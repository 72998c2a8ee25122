"""Training-data-pipeline queries (dedup / similarity) with DuckDB
oracles — the ANALYTICS_QUERIES half of the driver contract.

Every Spark query here is built from crawler_spark.operators.{dedup,
similarity}; every oracle is the same computation in DuckDB SQL.
Engine parity rests on three deliberate choices:

1. all content hashing is md5 (identical in both engines); compares are on
   hex strings (binary collation in both) or on 60-bit integer prefixes
   where an aggregate needs a mutable buffer (minhash — see
   operators/dedup.minhash_signatures);
2. all float output is computed in DOUBLE with the same operation order and
   rounded (4 dp) before it leaves the query;
3. every ordering / top-k uses a total, engine-independent sort key
   (rounded score, then id).

Near-duplicate inputs are PLANTED deterministically inside the query's
corpus view (doc variants with the first word dropped, exact copies, vectors
with one perturbed dim), identically in both dialects — the raw testdata has
no near-dups, and a dedup operator that always returns 0 rows proves
nothing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.operators import dedup as DD
from crawler_spark.operators import similarity as SIM

QueryFn = Callable[[SparkSession, str], DataFrame]

HEX = "0123456789abcdef"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# corpus views with planted duplicates
# ---------------------------------------------------------------------------


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup variants (doc_id%10==0, first word dropped,
    id+1000000) ∪ exact copies (doc_id%17==0, id+2000000)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    near = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        "source",
    )
    exact = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "source"
    )
    return d.unionByName(near).unionByName(exact)


CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, strpos(text, ' ') + 1) AS text, source
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, source
  FROM documents WHERE doc_id % 17 = 0
)"""


def _vcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings (cast double) ∪ near-dup vectors: vec_id%25==0 planted as
    vec_id+1000000 with dim0 += 0.25."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    near = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "label",
        F.expr(
            "transform(sequence(1, size(embedding)), i -> "
            "CASE WHEN i = 1 THEN embedding[0] + CAST(0.25 AS DOUBLE) "
            "ELSE embedding[i - 1] END)"
        ).alias("embedding"),
    )
    return e.unionByName(near)


VCORPUS_SQL = """
vcorpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label,
         list_transform(generate_series(1, len(embedding)), i ->
           CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.25
                ELSE CAST(embedding[i] AS DOUBLE) END) AS embedding
  FROM embeddings WHERE vec_id % 25 = 0
)"""

# shared DuckDB fragments ----------------------------------------------------

SHINGLE3_SQL = """
wordsv AS (
  SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS w FROM corpus
),
shingles AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM wordsv WHERE len(w) >= 3
)"""

DOT_A_B = "list_dot_product(a.embedding, b.embedding)"
NORM = "sqrt(list_dot_product({x}.embedding, {x}.embedding))"
COS_AB = f"{DOT_A_B} / ({NORM.format(x='a')} * {NORM.format(x='b')})"


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = DD.exact_dup_groups(_corpus(spark, sf_dir))
    # doc_ids flattened to a '|'-joined string: scalar output columns only,
    # so the driver's value-hash normalization can't diverge on array types
    return out.select(
        "text_md5",
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        F.expr(
            "concat_ws('|', transform(sort_array(doc_ids), x -> cast(x as string)))"
        ).alias("doc_ids"),
    )


SQL_DEDUP_EXACT = f"""
WITH {CORPUS_SQL.strip()}
SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       array_to_string(list_transform(list_sort(list(doc_id)),
                                      x -> CAST(x AS VARCHAR)), '|') AS doc_ids
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = DD.minhash_signatures(_corpus(spark, sf_dir), num_perm=16)
    out = DD.lsh_candidate_pairs(sig, num_perm=16, bands=4, min_est_jaccard=0.5)
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("est_jaccard").cast("double").alias("est_jaccard"),
    )


def _minhash_cte_prefix(num_perm: int, bands: int) -> tuple[str, str]:
    """The corpus→shingles→sigs→sigv→banded CTE text plus the
    signature-agreement sum, shared by BOTH the dedup-pair oracles
    (`_minhash_sql`) and the estimator-eval oracle (`_minhash_eval_sql`)
    so the banding scheme can never drift between them."""
    rows = num_perm // bands
    # 60-bit integer hash prefixes, mirroring minhash_signatures (see its
    # docstring): min(BIGINT) hash-aggregates where min(string) sorts
    mins = ",\n         ".join(
        f"min(CAST(concat('0x', substr(md5('{i}:' || shingle), 1, 15)) "
        f"AS BIGINT)) AS s{i}"
        for i in range(num_perm)
    )
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(
            f"CAST(s{b * rows + j} AS VARCHAR)" for j in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, sig, {b} AS band_id, md5({key}) AS band_key FROM sigv"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    sig_list = ", ".join(f"s{i}" for i in range(num_perm))
    eq_sum = " + ".join(
        f"(CASE WHEN a.sig[{i + 1}] = b.sig[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    prefix = f"""WITH {CORPUS_SQL.strip()},
{SHINGLE3_SQL.strip()},
sigs AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
),
sigv AS (SELECT *, [{sig_list}] AS sig FROM sigs),
banded AS (
  {bands_sql}
)"""
    return prefix, eq_sum


def _minhash_sql(
    num_perm: int = 16, bands: int = 4, extra_where: str = ""
) -> str:
    prefix, eq_sum = _minhash_cte_prefix(num_perm, bands)
    return f"""
{prefix},
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         round(CAST(({eq_sum}) AS DOUBLE) / {num_perm}, 4) AS est_jaccard
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       CAST(est_jaccard AS DOUBLE) AS est_jaccard
FROM pairs WHERE est_jaccard >= 0.5{extra_where}
"""


SQL_DEDUP_MINHASH = _minhash_sql()


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup: docs with doc_id % 5 == 0 arrive as the NEW
    crawl batch; the rest are the existing corpus whose band index
    (DD.lsh_band_rows) is the only thing probed — the per-batch cost is
    O(new) hashing + an index join, never a corpus re-shingle.  The oracle
    is the FULL pairwise banding restricted to pairs with a new side —
    provably the same set, which is exactly the incremental contract."""
    c = _corpus(spark, sf_dir)
    is_new = F.col("doc_id") % 5 == 0
    sig_old = DD.minhash_signatures(c.filter(~is_new), num_perm=16)
    index = DD.lsh_band_rows(sig_old, num_perm=16, bands=4)
    sig_new = DD.minhash_signatures(c.filter(is_new), num_perm=16)
    out = DD.lsh_incremental_pairs(
        index, sig_new, num_perm=16, bands=4, min_est_jaccard=0.5
    )
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("est_jaccard").cast("double").alias("est_jaccard"),
    )


SQL_DEDUP_MINHASH_INCREMENTAL = _minhash_sql(
    extra_where=" AND (a_id % 5 = 0 OR b_id % 5 = 0)"
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = DD.simhash(_corpus(spark, sf_dir), bits=32)
    out = DD.simhash_near_pairs(sim, bits=32, chunks=4, max_hamming=3)
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _simhash_sql(bits: int = 32, chunks: int = 4, max_hamming: int = 3) -> str:
    votes = []
    for b in range(bits):
        pos = b // 4 + 1
        shift = 3 - b % 4
        bit = (
            f"((strpos('{HEX}', substr(h, {pos}, 1)) - 1) >> {shift}) & 1"
        )
        votes.append(f"sum(cnt * (({bit}) * 2 - 1)) AS v{b}")
    votes_sql = ",\n         ".join(votes)
    acc = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN 1 ELSE 0 END) * CAST({1 << b} AS BIGINT)"
        for b in range(bits)
    )
    w = bits // chunks
    mask = (1 << w) - 1
    chunk_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {j} AS chunk_id, (simhash >> {j * w}) & {mask} AS chunk_val FROM sh"
        for j in range(chunks)
    )
    return f"""
WITH {CORPUS_SQL.strip()},
words AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word FROM corpus
),
wc AS (
  SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word
),
wh AS (SELECT doc_id, cnt, md5(word) AS h FROM wc),
v AS (
  SELECT doc_id,
         {votes_sql}
  FROM wh GROUP BY doc_id
),
sh AS (SELECT doc_id, {acc} AS simhash FROM v),
chunked AS (
  {chunk_selects}
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS a_id,
       CAST(b.doc_id AS BIGINT) AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM chunked a JOIN chunked b
  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SQL_DEDUP_SIMHASH = _simhash_sql()


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH pair
    graph (iterative min-label propagation; DuckDB oracle uses a recursive
    CTE over the same pairs — identical labels by determinism)."""
    sig = DD.minhash_signatures(_corpus(spark, sf_dir), num_perm=16)
    pairs = DD.lsh_candidate_pairs(sig, num_perm=16, bands=4, min_est_jaccard=0.5)
    cc = DD.connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges)
SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
       CAST(least(n.doc_id, min(r.dst)) AS BIGINT) AS cluster_id
FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id
GROUP BY n.doc_id
"""


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as dedup_clusters, computed with the
    O(log² n) alternating large-star/small-star algorithm — the deep-chain
    scale path.  Checked against the SAME recursive-CTE oracle: both
    algorithms must label every node with its component minimum."""
    sig = DD.minhash_signatures(_corpus(spark, sf_dir), num_perm=16)
    pairs = DD.lsh_candidate_pairs(sig, num_perm=16, bands=4, min_est_jaccard=0.5)
    # max_iter surfaced here: 12 rounds covers ~any real near-dup graph
    # (rounds grow ~log² n); on non-convergence the operator warns and
    # collapses labels to min per doc instead of emitting conflicts.
    cc = DD.connected_components_star(pairs, max_iter=12)
    return cc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = DD.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), k=3, min_jaccard=0.6, block_col="source"
    )
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {CORPUS_SQL.strip()},
{SHINGLE3_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(i.a_id AS BIGINT) AS a_id, CAST(i.b_id AS BIGINT) AS b_id,
       round(CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE round(CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.6
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = DD.embedding_near_pairs(_vcorpus(spark, sf_dir), min_cosine=0.8)
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("cosine").cast("double").alias("cosine"),
    )


SQL_DEDUP_EMBEDDING = f"""
WITH {VCORPUS_SQL.strip()}
SELECT CAST(a.vec_id AS BIGINT) AS a_id, CAST(b.vec_id AS BIGINT) AS b_id,
       round({COS_AB}, 4) AS cosine
FROM vcorpus a JOIN vcorpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({COS_AB}, 4) >= 0.8
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a coarse
    quantizer, drop every vector with a near-identical (cos ≥ 0.8)
    neighbour ranked ahead of it inside its cluster; the survivor of each
    near-dup group is the member FARTHEST from its centroid (max
    diversity), ties on vec_id.  Assignment is the zero-shuffle map-side
    argmin; the candidate join is cell-blocked (Σ cell², never N²)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_embedding"),
    )
    out = SIM.semantic_dedup(emb, centroids, eps=0.8)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("long").alias("cell"),
        F.col("cent_cos").cast("double").alias("cent_cos"),
        F.col("keep").cast("boolean").alias("keep"),
    )


def _semantic_dedup_sql(eps: float = 0.8) -> str:
    def cos6(x: str, y: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({x}, {x})) = 0.0"
            f"  OR sqrt(list_dot_product({y}, {y})) = 0.0"
            f" THEN CAST(-1.0 AS DOUBLE)"
            f" ELSE round(list_dot_product({x}, {y}) /"
            f" (sqrt(list_dot_product({x}, {x})) *"
            f" sqrt(list_dot_product({y}, {y}))), 6) END"
        )

    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.cid, {cos6('e.v', 'cent.c')} AS cc
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, v, cid AS cell, cc AS cent_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cc DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell
   AND (b.cent_cos < a.cent_cos
        OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
  WHERE {cos6('a.v', 'b.v')} >= {eps})
SELECT CAST(a.vec_id AS BIGINT) AS vec_id, CAST(a.cell AS BIGINT) AS cell,
       CAST(a.cent_cos AS DOUBLE) AS cent_cos,
       (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


SQL_DEDUP_SEMANTIC = _semantic_dedup_sql()


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "q_embedding"
            ),
        )
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = SIM.brute_force_topk(emb, _queries_df(spark, sf_dir), k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cosine").cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_BRUTEFORCE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_embedding FROM e WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(a.embedding, q.q_embedding) /
               (sqrt(list_dot_product(a.embedding, a.embedding)) *
                sqrt(list_dot_product(q.q_embedding, q.q_embedding))), 4) AS cosine
  FROM e a CROSS JOIN q WHERE a.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""

_LSH_DIMS = [0, 16, 32, 48]


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = SIM.lsh_bucketed_topk(
        emb, _queries_df(spark, sf_dir), k=5, dims=_LSH_DIMS
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cosine").cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def _lsh_bucket_sql(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{d + 1}] >= 0 THEN 1 ELSE 0 END) * {1 << i}"
        for i, d in enumerate(_LSH_DIMS)
    )


SQL_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
         {_lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_embedding, bucket
  FROM e WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(a.embedding, q.q_embedding) /
               (sqrt(list_dot_product(a.embedding, a.embedding)) *
                sqrt(list_dot_product(q.q_embedding, q.q_embedding))), 4) AS cosine
  FROM e a JOIN q ON a.bucket = q.bucket WHERE a.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""

_IVF_K, _IVF_ITERS, _IVF_NPROBE, _IVF_TOPK = 4, 2, 2, 5


def q_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED quantizer and multi-cell probe: seeded k-means
    (k=4, 2 iterations, deterministic init + decimal means) builds the
    centroids, queries probe their 2 nearest cells.  The full build→probe
    path a 100-TB vector corpus needs — nprobe>1 is the recall knob."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    cent = SIM.kmeans_centroids(emb, k=_IVF_K, iters=_IVF_ITERS, seed="km1")
    out = SIM.ivf_topk(
        emb, _queries_df(spark, sf_dir), cent, k=_IVF_TOPK, nprobe=_IVF_NPROBE
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cosine").cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ivf_nprobe_sql() -> str:
    def cos(a: str, b: str, nd: int) -> str:
        # zero-norm guard mirroring ivf_assign/ivf_probe_cells: Spark pins
        # the cosine of a zero vector to -1.0 (lowest cell wins); without
        # this the oracle's x/0 -> NULL/NaN would rank differently
        return (
            f"CASE WHEN sqrt(list_dot_product({a}, {a})) = 0.0"
            f" OR sqrt(list_dot_product({b}, {b})) = 0.0"
            f" THEN CAST(-1.0 AS DOUBLE)"
            f" ELSE round(list_dot_product({a}, {b}) /"
            f" (sqrt(list_dot_product({a}, {a})) *"
            f" sqrt(list_dot_product({b}, {b}))), {nd}) END"
        )

    def assign_iter(i: int) -> str:
        # assign to nearest centroid of c{i-1}, then decimal-mean per dim
        return f"""
a{i} AS (
  SELECT vec_id, v, centroid_id AS cell FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN c{i - 1} c) WHERE rn = 1),
m{i} AS (
  SELECT cell, pos,
         round(CAST(sum(CAST(val AS DECIMAL(24,12))) AS DOUBLE)
               / count(*), 6) AS m
  FROM (SELECT cell, unnest(v) AS val,
               unnest(generate_series(1, len(v))) AS pos
        FROM a{i})
  GROUP BY cell, pos),
c{i} AS (
  SELECT cell AS centroid_id, list(m ORDER BY pos) AS c
  FROM m{i} GROUP BY cell)"""

    last = f"c{_IVF_ITERS}"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
seeds AS (
  SELECT vec_id, v,
         row_number() OVER (
           ORDER BY md5('km1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS centroid_id
  FROM e),
c0 AS (SELECT centroid_id, v AS c FROM seeds WHERE centroid_id < {_IVF_K}),
{','.join(assign_iter(i + 1) for i in range(_IVF_ITERS))},
corpus AS (
  SELECT vec_id, v, centroid_id AS cell FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN {last} c) WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id AS cell FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN {last} c WHERE e.vec_id < 8)
  WHERE rn <= {_IVF_NPROBE}),
cand AS (
  SELECT q.query_id, a.vec_id, {cos('a.v', 'q.qv', 4)} AS cosine
  FROM corpus a JOIN q ON a.cell = q.cell WHERE a.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_IVF_TOPK}
"""


SQL_ANN_IVF_NPROBE = _ivf_nprobe_sql()


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_embedding"),
    )
    out = SIM.ivf_topk(emb, _queries_df(spark, sf_dir), centroids, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cosine").cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_IVF = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0.0
                OR sqrt(list_dot_product(cent.c, cent.c)) = 0.0
              THEN CAST(-1.0 AS DOUBLE)
              ELSE round(list_dot_product(e.v, cent.c) /
                         (sqrt(list_dot_product(e.v, e.v)) *
                          sqrt(list_dot_product(cent.c, cent.c))), 6)
         END AS cc
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cc DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cell FROM assign WHERE vec_id < 8),
cand AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(a.v, q.qv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM assign a JOIN q ON a.cell = q.cell WHERE a.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (FAISS SQ8): per-dim min/span trained over the
    corpus, 1-byte codes, asymmetric L2 on map-side reconstructions —
    completes the quantization family next to PQ/IVF-PQ (per-dimension
    resolution at D bytes/vector vs PQ's m).  Training is selection-only
    (min/max), so both engines hold bit-identical bounds."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = SIM.sq8_adc_topk(emb, _queries_df(spark, sf_dir), k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("adc_e6").cast("long").alias("adc_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_SQ8 = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
x AS (
  SELECT vec_id, unnest(v) AS val,
         unnest(generate_series(1, len(v))) AS pos
  FROM e),
st AS (SELECT pos, min(val) AS mn, max(val) - min(val) AS span
       FROM x GROUP BY pos),
recon AS (
  SELECT vec_id,
         list(CASE WHEN span = 0.0 THEN mn
                   ELSE mn + (CAST(CAST(round(((val - mn) * 255.0) / span)
                                   AS INTEGER) AS DOUBLE) * span) / 255.0
              END ORDER BY pos) AS r
  FROM x JOIN st USING (pos) GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
cand AS (
  SELECT q.query_id, c.vec_id,
         CAST(round(((list_dot_product(c.r, c.r)
                      - 2.0 * list_dot_product(c.r, q.qv))
                     + list_dot_product(q.qv, q.qv)) * 1000000.0) AS BIGINT)
           AS adc_e6
  FROM recon c CROSS JOIN q WHERE c.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, adc_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_e6 ASC, vec_id ASC) AS rank
  FROM cand)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       adc_e6, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 (the other half of the FAISS index matrix next to IVF-PQ):
    coarse cells prune WHICH vectors are scanned, scalar quantization
    compresses WHAT is scanned — stored index (vec_id, cell, codes), ADC
    over map-side reconstructions inside the probed cell."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_embedding"),
    )
    out = SIM.ivf_sq8_topk(emb, _queries_df(spark, sf_dir), centroids, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("adc_e6").cast("long").alias("adc_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_IVF_SQ8 = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id % 50 = 0),
cscored AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0.0
                OR sqrt(list_dot_product(cent.c, cent.c)) = 0.0
              THEN CAST(-1.0 AS DOUBLE)
              ELSE round(list_dot_product(e.v, cent.c) /
                         (sqrt(list_dot_product(e.v, e.v)) *
                          sqrt(list_dot_product(cent.c, cent.c))), 6)
         END AS cc
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cc DESC, cid ASC) AS rn
    FROM cscored) WHERE rn = 1),
x AS (
  SELECT vec_id, unnest(v) AS val,
         unnest(generate_series(1, len(v))) AS pos
  FROM e),
st AS (SELECT pos, min(val) AS mn, max(val) - min(val) AS span
       FROM x GROUP BY pos),
recon AS (
  SELECT vec_id,
         list(CASE WHEN span = 0.0 THEN mn
                   ELSE mn + (CAST(CAST(round(((val - mn) * 255.0) / span)
                                   AS INTEGER) AS DOUBLE) * span) / 255.0
              END ORDER BY pos) AS r
  FROM x JOIN st USING (pos) GROUP BY vec_id),
idx AS (SELECT a.vec_id, a.cell, r.r FROM assign a JOIN recon r USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, cell FROM assign WHERE vec_id < 8),
cand AS (
  SELECT q.query_id, c.vec_id,
         CAST(round(((list_dot_product(c.r, c.r)
                      - 2.0 * list_dot_product(c.r, q.qv))
                     + list_dot_product(q.qv, q.qv)) * 1000000.0) AS BIGINT)
           AS adc_e6
  FROM idx c JOIN q ON c.cell = q.cell WHERE c.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, adc_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_e6 ASC, vec_id ASC) AS rank
  FROM cand)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       adc_e6, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


_PQ_M, _PQ_D, _PQ_KSUB, _PQ_ITERS, _PQ_TOPK = 2, 32, 4, 1, 5


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: train per-subspace codebooks (seeded
    k-means, 1 refinement pass), encode the corpus to m small codes, rank
    by asymmetric distance (query-to-codeword LUT lookups).  The memory
    half of the 100-TB ANN story — IVF prunes the scan, PQ shrinks what is
    scanned: m bytes per vector and O(m) adds per candidate.  Distances
    are scaled-integer e6 so the ADC sum hashes identically in both
    engines."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    cb = SIM.pq_codebooks(
        emb, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS, seed="pq1"
    )
    out = SIM.pq_adc_topk(emb, _queries_df(spark, sf_dir), cb, k=_PQ_TOPK)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("adc_e6").cast("long").alias("adc_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


def _pq_adc_sql() -> str:
    def d2(x: str, y: str) -> str:
        # fixed association ((x·x − 2·x·y) + y·y) — the exact op sequence
        # similarity._l2_sql / _py_l2 run, so both engines and the Python
        # LUT builder agree bitwise
        return (
            f"((list_dot_product({x}, {x}) - 2.0 * list_dot_product({x}, {y}))"
            f" + list_dot_product({y}, {y}))"
        )

    def assign(src: str) -> str:
        return f"""
  SELECT vec_id, m, sv, code_id AS code FROM (
    SELECT s.vec_id, s.m, s.sv, c.code_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY round({d2('s.sv', 'c.cw')}, 6) ASC,
                      c.code_id ASC) AS rn
    FROM sub s JOIN {src} c ON c.m = s.m) WHERE rn = 1"""

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sub AS (
  SELECT vec_id, m, list_slice(v, m * {_PQ_D} + 1, (m + 1) * {_PQ_D}) AS sv
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) ms),
seeds AS (
  SELECT m, sv, row_number() OVER (PARTITION BY m
           ORDER BY md5('pq1:' || CAST(m AS VARCHAR) || ':'
                        || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code_id
  FROM sub),
cb0 AS (SELECT m, code_id, sv AS cw FROM seeds WHERE code_id < {_PQ_KSUB}),
a1 AS ({assign('cb0')}),
m1 AS (
  SELECT m, code, pos,
         round(CAST(sum(CAST(val AS DECIMAL(24,12))) AS DOUBLE)
               / count(*), 6) AS cval
  FROM (SELECT m, code, unnest(sv) AS val,
               unnest(generate_series(1, len(sv))) AS pos
        FROM a1)
  GROUP BY m, code, pos),
cb1 AS (SELECT m, code AS code_id, list(cval ORDER BY pos) AS cw
        FROM m1 GROUP BY m, code),
codes AS ({assign('cb1')}),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.code_id,
         CAST(floor({d2('s.sv', 'c.cw')} * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM sub s JOIN cb1 c ON c.m = s.m WHERE s.vec_id < 8),
adc AS (
  SELECT l.query_id, co.vec_id, CAST(sum(l.d_e6) AS BIGINT) AS adc_e6
  FROM codes co JOIN lut l ON l.m = co.m AND l.code_id = co.code
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id),
ranked AS (
  SELECT query_id, vec_id, adc_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_e6 ASC, vec_id ASC) AS rank
  FROM adc)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(adc_e6 AS BIGINT) AS adc_e6, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_PQ_TOPK}
"""


SQL_ANN_PQ_ADC = _pq_adc_sql()


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC, the canonical billion-scale ANN index (FAISS IVFPQ): the
    trained coarse quantizer prunes WHICH vectors each query scans
    (nprobe=2 cells), trained PQ codebooks compress WHAT is scanned (m
    bytes + O(m) LUT adds per candidate).  Both trainings and the ADC
    ranking replay exactly in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    cent = SIM.kmeans_centroids(emb, k=_IVF_K, iters=_IVF_ITERS, seed="km1")
    cb = SIM.pq_codebooks(
        emb, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS, seed="pq1"
    )
    out = SIM.ivf_pq_topk(
        emb, _queries_df(spark, sf_dir), cent, cb,
        k=_PQ_TOPK, nprobe=_IVF_NPROBE,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("adc_e6").cast("long").alias("adc_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ivf_pq_sql(residual: bool = False) -> str:
    """DuckDB replay of the full IVF-PQ pipeline; ``residual=True`` mirrors
    :func:`crawler_spark.operators.similarity.ivf_pq_residual_topk` — PQ is
    trained on and encodes x − c(cell), and the ADC LUTs are per
    (query, probed cell) from the query residual q − c(cell)."""

    def cos(a: str, b: str, nd: int) -> str:
        # zero-norm guard mirroring ivf_assign/ivf_probe_cells: Spark pins
        # the cosine of a zero vector to -1.0 (lowest cell wins); without
        # this the oracle's x/0 -> NULL/NaN would rank differently
        return (
            f"CASE WHEN sqrt(list_dot_product({a}, {a})) = 0.0"
            f" OR sqrt(list_dot_product({b}, {b})) = 0.0"
            f" THEN CAST(-1.0 AS DOUBLE)"
            f" ELSE round(list_dot_product({a}, {b}) /"
            f" (sqrt(list_dot_product({a}, {a})) *"
            f" sqrt(list_dot_product({b}, {b}))), {nd}) END"
        )

    def d2(x: str, y: str) -> str:
        return (
            f"((list_dot_product({x}, {x}) - 2.0 * list_dot_product({x}, {y}))"
            f" + list_dot_product({y}, {y}))"
        )

    def kmeans_iter(i: int) -> str:
        return f"""
ka{i} AS (
  SELECT vec_id, v, centroid_id AS cell FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN kc{i - 1} c) WHERE rn = 1),
km{i} AS (
  SELECT cell, pos,
         round(CAST(sum(CAST(val AS DECIMAL(24,12))) AS DOUBLE)
               / count(*), 6) AS m
  FROM (SELECT cell, unnest(v) AS val,
               unnest(generate_series(1, len(v))) AS pos
        FROM ka{i})
  GROUP BY cell, pos),
kc{i} AS (
  SELECT cell AS centroid_id, list(m ORDER BY pos) AS c
  FROM km{i} GROUP BY cell)"""

    def pq_assign(src: str) -> str:
        return f"""
  SELECT vec_id, m, sv, code_id AS code FROM (
    SELECT s.vec_id, s.m, s.sv, c.code_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY round({d2('s.sv', 'c.cw')}, 6) ASC,
                      c.code_id ASC) AS rn
    FROM sub s JOIN {src} c ON c.m = s.m) WHERE rn = 1"""

    last = f"kc{_IVF_ITERS}"
    # residual mode: per-element x − c(cell) lists for corpus and probed
    # queries (one IEEE subtraction per element — bit-portable), PQ over
    # those, and cell-keyed LUTs from the query residuals
    resid_ctes = f"""
eu AS (SELECT vec_id, unnest(v) AS val,
              unnest(generate_series(1, len(v))) AS pos FROM e),
cu AS (SELECT centroid_id, unnest(c) AS cval,
              unnest(generate_series(1, len(c))) AS pos FROM {last}),
resid AS (
  SELECT eu.vec_id, co.cell, list(eu.val - cu.cval ORDER BY eu.pos) AS v
  FROM eu JOIN corpus co ON co.vec_id = eu.vec_id
       JOIN cu ON cu.centroid_id = co.cell AND cu.pos = eu.pos
  GROUP BY eu.vec_id, co.cell),"""
    sub_src = "resid" if residual else "e"
    if residual:
        lut_ctes = f"""
qresid AS (
  SELECT qp.query_id, qp.cell, list(eu.val - cu.cval ORDER BY eu.pos) AS v
  FROM qprobe qp
  JOIN eu ON eu.vec_id = qp.query_id
  JOIN cu ON cu.centroid_id = qp.cell AND cu.pos = eu.pos
  GROUP BY qp.query_id, qp.cell),
qsub AS (
  SELECT query_id, cell, m,
         list_slice(v, m * {_PQ_D} + 1, (m + 1) * {_PQ_D}) AS sv
  FROM qresid
  CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) ms2),
lut AS (
  SELECT s.query_id, s.cell, s.m, c.code_id,
         CAST(floor({d2('s.sv', 'c.cw')} * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM qsub s JOIN pcb1 c ON c.m = s.m),
cand AS (
  SELECT qp.query_id, c.vec_id, qp.cell
  FROM corpus c JOIN qprobe qp ON c.cell = qp.cell
  WHERE c.vec_id <> qp.query_id),
adc AS (
  SELECT cand.query_id, cand.vec_id, CAST(sum(l.d_e6) AS BIGINT) AS adc_e6
  FROM cand
  JOIN pcodes co ON co.vec_id = cand.vec_id
  JOIN lut l ON l.query_id = cand.query_id AND l.cell = cand.cell
            AND l.m = co.m AND l.code_id = co.code
  GROUP BY cand.query_id, cand.vec_id),"""
    else:
        lut_ctes = f"""
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.code_id,
         CAST(floor({d2('s.sv', 'c.cw')} * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM sub s JOIN pcb1 c ON c.m = s.m WHERE s.vec_id < 8),
cand AS (
  SELECT qp.query_id, c.vec_id
  FROM corpus c JOIN qprobe qp ON c.cell = qp.cell
  WHERE c.vec_id <> qp.query_id),
adc AS (
  SELECT cand.query_id, cand.vec_id, CAST(sum(l.d_e6) AS BIGINT) AS adc_e6
  FROM cand
  JOIN pcodes co ON co.vec_id = cand.vec_id
  JOIN lut l ON l.query_id = cand.query_id
            AND l.m = co.m AND l.code_id = co.code
  GROUP BY cand.query_id, cand.vec_id),"""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
kseeds AS (
  SELECT vec_id, v,
         row_number() OVER (
           ORDER BY md5('km1:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS centroid_id
  FROM e),
kc0 AS (SELECT centroid_id, v AS c FROM kseeds WHERE centroid_id < {_IVF_K}),
{','.join(kmeans_iter(i + 1) for i in range(_IVF_ITERS))},
corpus AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN {last} c) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS query_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.c', 6)} DESC,
                                       c.centroid_id ASC) AS rn
    FROM e CROSS JOIN {last} c WHERE e.vec_id < 8)
  WHERE rn <= {_IVF_NPROBE}),{resid_ctes if residual else ''}
sub AS (
  SELECT vec_id, m, list_slice(v, m * {_PQ_D} + 1, (m + 1) * {_PQ_D}) AS sv
  FROM {sub_src}
  CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) ms),
pseeds AS (
  SELECT m, sv, row_number() OVER (PARTITION BY m
           ORDER BY md5('pq1:' || CAST(m AS VARCHAR) || ':'
                        || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code_id
  FROM sub),
pcb0 AS (SELECT m, code_id, sv AS cw FROM pseeds WHERE code_id < {_PQ_KSUB}),
pa1 AS ({pq_assign('pcb0')}),
pm1 AS (
  SELECT m, code, pos,
         round(CAST(sum(CAST(val AS DECIMAL(24,12))) AS DOUBLE)
               / count(*), 6) AS cval
  FROM (SELECT m, code, unnest(sv) AS val,
               unnest(generate_series(1, len(sv))) AS pos
        FROM pa1)
  GROUP BY m, code, pos),
pcb1 AS (SELECT m, code AS code_id, list(cval ORDER BY pos) AS cw
         FROM pm1 GROUP BY m, code),
pcodes AS ({pq_assign('pcb1')}),{lut_ctes}
ranked AS (
  SELECT query_id, vec_id, adc_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_e6 ASC, vec_id ASC) AS rank
  FROM adc)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(adc_e6 AS BIGINT) AS adc_e6, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_PQ_TOPK}
"""


SQL_ANN_IVF_PQ = _ivf_pq_sql()


def q_ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-ADC — the faithful FAISS IVFPQ: PQ codebooks
    are trained on and encode the residual x − c(cell), so quantization
    only covers the within-cell displacement and the same m·ksub budget
    buys a tighter code; ADC LUTs are per (query, probed cell).  Both
    trainings, the residual computation, and the ADC ranking replay
    exactly in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    cent = SIM.kmeans_centroids(emb, k=_IVF_K, iters=_IVF_ITERS, seed="km1")
    resid = SIM.ivf_residuals(SIM.ivf_assign(emb, cent), cent)
    cb = SIM.pq_codebooks(
        resid.select("vec_id", "embedding"),
        m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS, seed="pq1",
    )
    out = SIM.ivf_pq_residual_topk(
        emb, _queries_df(spark, sf_dir), cent, cb,
        k=_PQ_TOPK, nprobe=_IVF_NPROBE,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("adc_e6").cast("long").alias("adc_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_IVF_PQ_RESIDUAL = _ivf_pq_sql(residual=True)


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 evaluation of the approximate ANN variants against the
    brute-force ground truth — the self-measuring harness a 100-TB vector
    pipeline ships so an index rebuild that silently tanks recall fails
    loudly.  Per (variant, query): overlap count with the true top-5 and
    recall x10^4.  The truth side is 8 queries x 5 rows — broadcast-sized
    at any corpus scale; the expensive parts are the underlying ANN plans
    themselves, reused verbatim."""
    # each truth row is exploded once per variant and left-joined with the
    # approximate hits, so the brute-force plan is read once and nothing is
    # cached across consumers
    truth = (
        q_ann_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 5)
        .select(
            F.explode(F.array(F.lit("lsh"), F.lit("ivf"))).alias("variant"),
            "query_id",
            "vec_id",
        )
    )

    def tagged(approx: DataFrame, name: str) -> DataFrame:
        return approx.select(
            F.lit(name).alias("variant"),
            "query_id",
            "vec_id",
            F.lit(1).alias("__hit"),
        )

    approx = tagged(q_ann_lsh(spark, sf_dir), "lsh").unionByName(
        tagged(q_ann_ivf(spark, sf_dir), "ivf")
    )
    return (
        truth.join(approx, ["variant", "query_id", "vec_id"], "left")
        .groupBy("variant", "query_id")
        .agg(F.count("__hit").cast("long").alias("n_hits"))
        .select(
            "variant", F.col("query_id").cast("long").alias("query_id"), "n_hits"
        )
        .withColumn("recall_e4", F.expr("CAST(n_hits * 10000 div 5 AS BIGINT)"))
    )


SQL_ANN_RECALL_EVAL = f"""
WITH bf AS (
  SELECT query_id, vec_id FROM ({SQL_ANN_BRUTEFORCE}) b WHERE rank <= 5),
ap AS (
  SELECT 'lsh' AS variant, query_id, vec_id FROM ({SQL_ANN_LSH}) l
  UNION ALL
  SELECT 'ivf' AS variant, query_id, vec_id FROM ({SQL_ANN_IVF}) i),
qids AS (SELECT DISTINCT query_id FROM bf),
variants AS (SELECT 'lsh' AS variant UNION ALL SELECT 'ivf' AS variant),
hits AS (
  SELECT ap.variant, ap.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ap JOIN bf USING (query_id, vec_id)
  GROUP BY ap.variant, ap.query_id)
SELECT v.variant, CAST(q.query_id AS BIGINT) AS query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 10000 // 5 AS BIGINT) AS recall_e4
FROM variants v CROSS JOIN qids q
LEFT JOIN hits h ON h.variant = v.variant AND h.query_id = q.query_id
"""


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup cluster curation: MinHash-LSH pairs → connected components
    → ONE representative per cluster under the total order (n_chars DESC,
    doc_id ASC); singleton docs represent themselves.  This is the "which
    copy do we keep" decision every dedup pipeline must make after
    clustering; the keep-longest rule is the C4/CCNet convention."""
    c = _corpus(spark, sf_dir)
    sig = DD.minhash_signatures(c, num_perm=16)
    pairs = DD.lsh_candidate_pairs(sig, num_perm=16, bands=4, min_est_jaccard=0.5)
    cc = DD.connected_components(pairs)
    lab = (
        c.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(cc, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    rep = lab.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.min(
            F.struct((-F.col("n_chars")).alias("a"), F.col("doc_id").alias("b"))
        ).alias("__m"),
    )
    return lab.join(rep, "cluster_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        F.col("__m.b").cast("long").alias("rep_id"),
        (F.col("doc_id") == F.col("__m.b")).alias("is_rep"),
    )


SQL_DEDUP_REPRESENTATIVES = f"""
WITH RECURSIVE {CORPUS_SQL.strip()},
pairs AS ({SQL_DEDUP_MINHASH}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
cc AS (
  SELECT n.doc_id, least(n.doc_id, min(r.dst)) AS cluster_id
  FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id
  GROUP BY n.doc_id),
lab AS (
  SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
         coalesce(cc.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN cc USING (doc_id)),
rep AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
         min(struct_pack(a := -n_chars, b := doc_id)) AS m
  FROM lab GROUP BY cluster_id)
SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
       CAST(l.cluster_id AS BIGINT) AS cluster_id,
       r.cluster_size,
       CAST((r.m).b AS BIGINT) AS rep_id,
       l.doc_id = (r.m).b AS is_rep
FROM lab l JOIN rep r USING (cluster_id)
"""


def q_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator self-evaluation (the dedup analog of
    ann_recall_eval): for every LSH candidate pair, the signature-agreement
    estimate vs the TRUE distinct-3-shingle Jaccard, both as exact integer
    e4 ratios — est_e4 = (10000·eq) div num_perm over the eq matching
    signature positions, true_e4 = (10000·|A∩B|) div |A∪B| — plus the
    absolute estimator error.  This is the measurement a 100-TB
    dedup run uses to TUNE (num_perm, bands) before committing a
    corpus-wide pass: Broder's estimator is unbiased with σ =
    √(J(1−J)/P), so at P=16 errors up to ~1250 e4 are expected — the
    planted exact copies must come back est_e4 = true_e4 = 10000.

    Scale shape: candidate pairs (LSH-bounded, tiny vs corpus) are
    BROADCAST to the distinct-shingle table, so the intersection count is
    a semi-join-filtered hash aggregate — the corpus-sized side never
    joins itself; per-doc set sizes reuse the same distinct-shingle frame.
    """
    c = _corpus(spark, sf_dir)
    sig = DD.minhash_signatures(c, num_perm=16)
    cand = DD.lsh_candidate_pairs(sig, num_perm=16, bands=4, min_est_jaccard=0.5)
    pairs = cand.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        # est_jaccard = round(eq/16, 4), so round(est·16) is the integer
        # agreement count eq; integer arithmetic from there, as in the
        # oracle, exact for any num_perm (not only divisors of 10000)
        F.expr("(CAST(round(est_jaccard * 16) AS BIGINT) * 10000) div 16").alias(
            "est_e4"
        ),
    )
    dsh = DD.exploded_shingles(c, k=3, distinct=True).select("doc_id", "shingle")
    sizes = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    inter = (
        dsh.withColumnRenamed("doc_id", "a_id")
        .join(F.broadcast(pairs.select("a_id", "b_id")), "a_id")
        .join(dsh.withColumnRenamed("doc_id", "b_id"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a")),
            "a_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b")),
            "b_id",
        )
        .join(inter, ["a_id", "b_id"], "left")
        .select(
            "a_id",
            "b_id",
            "est_e4",
            F.expr(
                "(10000 * coalesce(n_inter, 0L)) div "
                "(n_a + n_b - coalesce(n_inter, 0L))"
            ).cast("long").alias("true_e4"),
        )
        .withColumn(
            "err_e4", F.expr("abs(est_e4 - true_e4)").cast("long")
        )
    )


def _minhash_eval_sql(num_perm: int = 16, bands: int = 4) -> str:
    """Oracle for q_minhash_estimate_eval: the SAME sigs/banded CTE prefix
    as the dedup-pair oracles (`_minhash_cte_prefix` — one banding
    definition, zero drift), with the pair estimate as an exact integer
    and a true-Jaccard join tail."""
    prefix, eq_sum = _minhash_cte_prefix(num_perm, bands)
    true_e4 = (
        "(10000 * coalesce(i.n_inter, 0)) // "
        "(za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))"
    )
    return f"""
{prefix},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         (({eq_sum}) * 10000) // {num_perm} AS est_e4
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
pairs AS (SELECT * FROM cand WHERE est_e4 >= 5000),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.a_id, p.b_id, count(*) AS n_inter
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.a_id
  JOIN shingles sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
  GROUP BY p.a_id, p.b_id
)
SELECT CAST(p.a_id AS BIGINT) AS a_id, CAST(p.b_id AS BIGINT) AS b_id,
       CAST(p.est_e4 AS BIGINT) AS est_e4,
       CAST({true_e4} AS BIGINT) AS true_e4,
       CAST(abs(p.est_e4 - {true_e4}) AS BIGINT) AS err_e4
FROM pairs p
JOIN sizes za ON za.doc_id = p.a_id
JOIN sizes zb ON zb.doc_id = p.b_id
LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
"""


SQL_MINHASH_ESTIMATE_EVAL = _minhash_eval_sql()


ANALYTICS_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_minhash_incremental": (
        q_dedup_minhash_incremental,
        SQL_DEDUP_MINHASH_INCREMENTAL,
    ),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_clusters_star": (q_dedup_clusters_star, SQL_DEDUP_CLUSTERS),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING),
    "ann_bruteforce_topk": (q_ann_bruteforce, SQL_ANN_BRUTEFORCE),
    "ann_lsh_bucketed": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf, SQL_ANN_IVF),
    "ann_ivf_nprobe": (q_ann_ivf_nprobe, SQL_ANN_IVF_NPROBE),
    "ann_pq_adc": (q_ann_pq_adc, SQL_ANN_PQ_ADC),
    "ann_ivf_pq": (q_ann_ivf_pq, SQL_ANN_IVF_PQ),
    "ann_ivf_pq_residual": (q_ann_ivf_pq_residual, SQL_ANN_IVF_PQ_RESIDUAL),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "ann_recall_eval": (q_ann_recall_eval, SQL_ANN_RECALL_EVAL),
    "dedup_representatives": (
        q_dedup_representatives,
        SQL_DEDUP_REPRESENTATIVES,
    ),
    "ann_sq8": (q_ann_sq8, SQL_ANN_SQ8),
    "ann_ivf_sq8": (q_ann_ivf_sq8, SQL_ANN_IVF_SQ8),
    "minhash_estimate_eval": (q_minhash_estimate_eval, SQL_MINHASH_ESTIMATE_EVAL),
}
