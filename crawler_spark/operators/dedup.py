"""Deduplication operators for the training-data pipeline.

The reference deduplicates only by exact map-key idempotence
(/root/reference/plugin/public/tools.go:239,279 — same image URL overwrites
the same FileList key) and by the (pid,title) seen-set delta
(tools.go:337-343).  A 100-TB training-data pipeline needs the full dedup
ladder, so this module adds, Spark-first:

- **exact**        — hash-groupBy on md5(text); one shuffle, map-side partial
                     aggregation collapses duplicates before they move.
- **MinHash+LSH**  — shingle → 16-perm minhash signature → 4×4 banding →
                     band-bucket self-join → candidate pairs.  The only
                     shuffles are the signature groupBy and the band join
                     (band_key is the join key, so the join is
                     candidate-generating, never N²).
- **SimHash**      — 32-bit simhash from per-word votes; near-pairs via the
                     pigeonhole chunk join (4×8-bit chunks: any pair with
                     hamming ≤ 3 shares ≥1 chunk), exact `bit_count(xor)`
                     verify after the join.
- **n-gram Jaccard** — exact jaccard via shingle-key self-join (inverted
                     index join, not cartesian).
- **embedding cosine** — blocked self-join + `zip_with`/`aggregate` dot
                     product, all JVM-side.

Everything is a pure Column expression — zero Python UDFs — so every operator
here is whole-stage-codegen'd and mirrors 1:1 into the DuckDB oracle SQL
(hashing is md5-hex, min/compare on hex strings is binary collation in both
engines).

Scale notes (100 TB): shingle explosion is the big intermediate — it is
produced and consumed map-side into the signature aggregation (one shuffle of
|docs|×P small rows).  Band join keys are md5 strings → uniformly
distributed, no skew salting needed.  The pair join output is bounded by the
banding false-positive rate, not |docs|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, n_dups, canonical doc_id).

    The canonical representative is the min doc_id (deterministic).  One
    shuffle; partial aggregation collapses dup groups map-side.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def exploded_shingles(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    extra_cols: list[str] | None = None,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id[, extra…], shingle) rows — the inverted-index substrate.

    Shingling uses an overlapping-match lookahead regex
    (``(?:^|(?<=\\s))(?=(\\S+(?:\\s+\\S+){k-1}))``) + whitespace
    normalization: Spark's higher-order ``transform`` lambda is interpreted
    per element (~5× slower than this codegen'd regex path; measured on
    300k shingles).  ``distinct=False`` skips the per-doc dedupe shuffle for
    consumers where duplicate shingles are harmless (min-hash).

    ``extra_cols`` must be PER-DOC CONSTANTS (blocking keys like lang or
    source): the dedupe is a full-column ``distinct()`` — a pure
    HashAggregate — rather than ``dropDuplicates([doc_id, shingle])``,
    which Spark compiles to ``first(extra)`` per group, and ``first`` over
    a string has no mutable buffer so the whole occurrence-exploded frame
    gets a per-partition SortAggregate.  For doc-constant extras the two
    are row-identical; the contract buys the hash plan.
    """
    pat = r"(?:^|(?<=\s))(?=(\S+(?:\s+\S+){" + str(k - 1) + r"}))"
    out = docs.select(
        "doc_id",
        *(extra_cols or []),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pat), 1)).alias(
            "__s0"
        ),
    ).withColumn("shingle", F.regexp_replace("__s0", r"\s+", " ")).drop("__s0")
    if distinct:
        out = out.distinct()
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 16,
    k: int = 3,
    text_col: str = "text",
    broadcast_hashes: bool | None = None,
    broadcast_cap_bytes: int = 256 << 20,
) -> DataFrame:
    """Per-doc minhash signature: s_i = min over shingles of the 60-bit
    prefix of md5(i ‖ ':' ‖ sh), as a BIGINT.

    All ``num_perm`` mins are computed in ONE aggregation over the exploded
    shingles (single shuffle keyed by doc_id; partial min map-side), instead
    of exploding ×num_perm.  The signature elements are INTEGER hash
    prefixes, not hex strings, on purpose: ``min(string)`` has no mutable
    UnsafeRow buffer, so Spark plans it as a per-partition SortAggregate
    over the occurrence-exploded shingle join — at 10^10 docs that sort is
    the stage's bottleneck; ``min(bigint)`` hash-aggregates with map-side
    partial combine, and the signature payload drops 33 → 8 bytes per
    element through every downstream shuffle and stored index (measured
    1.3-4× on the signature stage at sf0.1).  The 60-bit prefix keeps the
    value positive in a signed 64-bit lane in every engine; a prefix
    collision between two distinct shingles merely lets either represent
    the min — the min over the SAME integer set is engine-identical, so
    parity is unaffected.  DuckDB mirror: ``('0x' || substr(md5(…),1,15))
    ::BIGINT``, bit-equal to Spark's ``conv(substring(md5(…),1,15),16,10)``
    (verified three-way vs Python int(hex,16)).

    Returns (doc_id, s0..s{P-1}, sig:array<bigint>).
    """
    # sh is scanned twice (distinct-hash build + the join back) — checkpoint
    # it so the explode runs once
    sh = exploded_shingles(docs, k, text_col, distinct=False).localCheckpoint(
        eager=False
    )
    # hash each DISTINCT shingle once, then join back: corpora repeat
    # shingles heavily, so this cuts the md5 work from O(occurrences·P) to
    # O(distinct·P); Catalyst broadcasts the hash table while it fits,
    # falling back to a shuffle join at scale.
    hashes = sh.select("shingle").distinct().select(
        "shingle",
        *[
            F.expr(
                f"CAST(conv(substring(md5(concat('{i}:', shingle)), 1, 15), "
                f"16, 10) AS BIGINT)"
            ).alias(f"h{i}")
            for i in range(num_perm)
        ],
    )
    # explode-inflated size estimates push Catalyst to sort-merge here even
    # when the distinct-hash table is tiny, so the hint must be explicit —
    # but an UNCONDITIONAL broadcast OOMs executors once the distinct-shingle
    # table outgrows memory (at 100-TB corpora it is many GB).  Gate it: one
    # cheap HLL pass over the already-checkpointed shingles estimates the
    # broadcast payload (shingle + num_perm hex digests per row); above the
    # cap we leave the join unhinted and it degrades to a shuffle join.
    if broadcast_hashes is None:
        est = sh.agg(
            F.approx_count_distinct("shingle").alias("n"),
            F.avg(F.length("shingle")).alias("w"),
        ).first()
        row_bytes = (est.w or 0.0) + 8 * num_perm + 48
        broadcast_hashes = (est.n or 0) * row_bytes <= broadcast_cap_bytes
    joined = sh.join(
        F.broadcast(hashes) if broadcast_hashes else hashes, "shingle"
    )
    sig = joined.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"s{i}") for i in range(num_perm)]
    )
    return sig.withColumn("sig", F.array(*[F.col(f"s{i}") for i in range(num_perm)]))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding: band_key_b = md5(s_{b·r} ‖ '|' ‖ … ‖ s_{b·r+r-1});
    candidate pair ⇔ docs share any band key.  est_jaccard = matching
    signature fraction.  Returns distinct (a_id, b_id, est_jaccard ≥ min).

    The self-join is keyed on (band_id, band_key) — an inverted-index join;
    md5 keys are uniform so there is no skew to salt.
    """
    banded = lsh_band_rows(signatures, num_perm, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    est = F.expr(
        f"aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        f"0, (acc, v) -> acc + v) / CAST({num_perm} AS DOUBLE)"
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )
    return pairs


def lsh_band_rows(
    signatures: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    include_sig: bool = True,
) -> DataFrame:
    """(doc_id[, sig], band_id, band_key) rows — the persisted
    inverted-index form of the LSH banding.  At corpus scale this is a
    stored table, bucketed by (band_id, band_key) (sources/bucketed.py), so
    incremental probes join co-located.

    For a PERSISTED index pass ``include_sig=False``: carrying the full
    num_perm-element signature in every band row stores each signature
    ``bands``× (the dominant column, written and scanned 4× at defaults) —
    the lean index holds only (doc_id, band_id, band_key) and
    :func:`lsh_incremental_pairs` joins signatures back on the candidate
    pairs, which are far fewer than index rows.  ``include_sig=True`` is
    the inline shape :func:`lsh_candidate_pairs` consumes directly."""
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        # explicit cast: signature elements are BIGINT; the SQL mirror is
        # CAST(s AS VARCHAR), identical decimal rendering in both engines
        cols = [
            F.col(f"s{b * rows + j}").cast("string") for j in range(rows)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("band_key"),
            )
        )
    payload = ["doc_id", "sig"] if include_sig else ["doc_id"]
    return signatures.select(
        *payload, F.explode(F.array(*band_cols)).alias("band")
    ).select(*payload, "band.band_id", "band.band_key")


def lsh_incremental_pairs(
    index: DataFrame,
    new_sigs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
    old_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental LSH dedup: candidate pairs involving at least one NEW
    doc, by probing a pre-banded index — the production shape of
    lsh_candidate_pairs at corpus scale, where re-shingling and re-joining
    the whole corpus per crawl batch is the cost you must not pay.

    ``index``: lsh_band_rows over the EXISTING corpus signatures (a stored
    table; only appended to).  ``new_sigs``: minhash_signatures of the new
    batch only — so the per-batch work is O(new·P) hashing plus a join whose
    left side is the new batch's bands, not the corpus.  New-new pairs are
    found too (the probe side joins against index ∪ new bands).  Same
    est_jaccard and thresholds as the batch operator: the result equals
    lsh_candidate_pairs(old ∪ new) restricted to pairs with a new side
    (pinned by tests/test_analytics.py).

    Two index shapes are accepted: a ``sig``-carrying index (inline
    est_jaccard, no extra join) and the LEAN persisted index
    (``lsh_band_rows(include_sig=False)``) — then ``old_sigs`` (doc_id,
    sig) is required and signatures are joined back onto the candidate
    pairs only, which is the at-scale shape (|pairs| ≪ |index rows|).
    """
    has_sig = "sig" in index.columns
    bnew = lsh_band_rows(new_sigs, num_perm, bands, include_sig=has_sig)
    ball = index.unionByName(bnew)
    a, b = bnew.alias("a"), ball.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    if has_sig:
        pairs = cand.select(
            F.least("a.doc_id", "b.doc_id").alias("a_id"),
            F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
            F.col("a.sig").alias("a_sig"),
            F.col("b.sig").alias("b_sig"),
        )
    else:
        if old_sigs is None:
            raise ValueError(
                "a lean index (no sig column) requires old_sigs=(doc_id, sig)"
            )
        pairs = cand.select(
            F.least("a.doc_id", "b.doc_id").alias("a_id"),
            F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
        ).distinct()
        all_sigs = old_sigs.select("doc_id", "sig").unionByName(
            new_sigs.select("doc_id", "sig")
        )
        pairs = pairs.join(
            all_sigs.select(
                F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig")
            ),
            "a_id",
        ).join(
            all_sigs.select(
                F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig")
            ),
            "b_id",
        )
    est = F.expr(
        f"aggregate(zip_with(a_sig, b_sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        f"0, (acc, v) -> acc + v) / CAST({num_perm} AS DOUBLE)"
    )
    return (
        pairs.select(
            "a_id", "b_id", F.round(est, 4).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_expr(hash_col: str, b: int) -> str:
    """Spark-SQL expr for bit b (0 = MSB of first hex digit) of md5 hex."""
    pos = b // 4 + 1
    shift = 3 - b % 4
    return (
        f"((instr('{HEX}', substring({hash_col}, {pos}, 1)) - 1) >> {shift}) & 1"
    )


def simhash(docs: DataFrame, bits: int = 32, text_col: str = "text") -> DataFrame:
    """32-bit SimHash: per-word md5 bit votes weighted by term count.

    simhash = Σ_b [ Σ_words cnt·(2·bit_b−1) > 0 ] · 2^b.  Pure column math —
    the per-bit sums are ``bits`` conditional aggregates over the exploded
    words (one shuffle keyed by doc_id, partial sums map-side).
    """
    words = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    )
    wc = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    wh = wc.withColumn("h", F.md5("word"))
    votes = [
        F.sum(F.col("cnt") * (F.expr(_bit_expr("h", b)) * 2 - 1)).alias(f"v{b}")
        for b in range(bits)
    ]
    v = wh.groupBy("doc_id").agg(*votes)
    acc = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN 1 ELSE 0 END) * CAST({1 << b} AS BIGINT)"
        for b in range(bits)
    )
    return v.select("doc_id", F.expr(acc).alias("simhash"))


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    chunks: int,
    max_hamming: int,
) -> DataFrame:
    """Near-duplicate pairs of any ``bits``-bit hash by hamming distance.

    Pigeonhole blocking: split the hash into ``chunks`` equal chunks — any
    pair with hamming ≤ chunks−1 shares at least one chunk, so the
    chunk-equality self-join is a complete candidate generator for
    ``max_hamming ≤ chunks−1``; exact ``bit_count(xor)`` verifies after.
    Masking after the shift makes the chunk values identical whether the
    engine's ``>>`` sign-extends or not.  Used by text SimHash
    (:func:`simhash_near_pairs`).
    """
    if max_hamming > chunks - 1:
        raise ValueError("pigeonhole requires max_hamming <= chunks - 1")
    w = bits // chunks
    mask = (1 << w) - 1
    chunk_cols = [
        F.struct(
            F.lit(j).alias("chunk_id"),
            F.expr(f"({hash_col} >> {j * w}) & {mask}").alias("chunk_val"),
        )
        for j in range(chunks)
    ]
    chunked = df.select(
        id_col, hash_col, F.explode(F.array(*chunk_cols)).alias("c")
    ).select(id_col, hash_col, "c.chunk_id", "c.chunk_val")
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.expr(f"bit_count(a.{hash_col} ^ b.{hash_col})").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(
    sim: DataFrame, bits: int = 32, chunks: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance (pigeonhole-blocked
    — see :func:`hamming_near_pairs`)."""
    return hamming_near_pairs(
        sim, "doc_id", "simhash", bits=bits, chunks=chunks,
        max_hamming=max_hamming,
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    min_jaccard: float = 0.6,
    text_col: str = "text",
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets via inverted-index self-join.

    |A∩B| from the shingle-key join (never cartesian), |A| and |B| from a
    per-doc count, jaccard = inter / (|A|+|B|−inter).

    ``block_col`` (e.g. source/domain) additionally restricts pairs to the
    same block — the standard shard-by-domain dedup pattern.  With a small
    shared vocabulary, hot shingles make the unblocked join quadratic in the
    per-shingle document frequency; adding the block key to the join both
    bounds that and lets the same column pre-partition the table at scale.

    ``max_df`` is the corpus-scale skew guard: shingles appearing in more
    than ``max_df`` docs (boilerplate — headers, license blurbs) are dropped
    from the JOIN side only, capping every inverted list at max_df (the join
    cost becomes Σ min(df, max_df)² instead of Σ df²).  Doc sizes stay exact,
    so the reported jaccard is a LOWER BOUND of the true value (inter can
    only shrink, and j is monotone in inter) — no false positives, and
    exact for pairs whose shared shingles are all rare (near-duplicate pairs
    share their *distinctive* text; pinned by tests/test_analytics.py).
    """
    sh = exploded_shingles(
        docs, k, text_col, extra_cols=[block_col] if block_col else None
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    join_sh = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        join_sh = sh.join(rare, "shingle")
    a, b = join_sh.alias("a"), join_sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"), 4
    )
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# duplicate-cluster assignment (connected components over dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Cluster duplicate pairs into components: (doc_id, cluster_id) where
    cluster_id = min doc_id reachable through the pair graph.

    Iterative min-label propagation (the standard Spark shape for CC /
    label propagation — a driver loop over DataFrame joins, converging in
    O(graph diameter) rounds; near-dup clusters are shallow so 2-3 rounds
    in practice).  Each round: label(v) ← min(label(v), min label of
    neighbors); stop when no label changed.  Deterministic, so the DuckDB
    recursive-CTE oracle computes identical labels.

    Scale notes: each round is one shuffle (groupBy doc over the edge
    list); the edge list stays fixed and small relative to the corpus
    (bounded by the candidate-pair generator, not N²).  For graphs with
    deep chains use the large-star/small-star variant; dup clusters don't
    need it.
    """
    # the edge list is re-joined every round — checkpoint it so the loop
    # never recomputes the (possibly expensive) pair-generation upstream
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst"), on="dst"
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True)
        if changed == 0:
            break
    return labels


def connected_components_star(
    pairs: DataFrame, max_iter: int = 12
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the deep-chain escape hatch :func:`connected_components`'s docstring
    promises: min-label propagation needs O(diameter) rounds, this
    converges in O(log² n) rounds regardless of chain depth, so a
    pathological duplicate chain (A~B~C~…) costs ~8 rounds instead of
    thousands.  Same output contract: (doc_id, cluster_id=min reachable
    doc_id).  Each phase is one shuffle over the current edge list;
    localCheckpoint per round keeps the plan shallow.
    """
    def sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        # for each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
        nbrs = sym(e)
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient u > v; for each u: m = min(N(u) ∪ {u}) = min(v);
        # emit (x, m) for x ∈ N(u) ∪ {u}, x ≠ m
        o = (
            e.select(
                F.greatest("u", "v").alias("gu"), F.least("u", "v").alias("gv")
            )
            .filter(F.col("gu") != F.col("gv"))
            .select(F.col("gu").alias("u"), F.col("gv").alias("v"))
            .distinct()
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        from_nbrs = (
            o.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        from_centers = mins.select(F.col("u"), F.col("m").alias("v"))
        return from_nbrs.unionByName(from_centers).distinct()

    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # checkpointed so the final join's plan scans a materialized node set
    # instead of re-deriving the whole candidate-pair lineage
    nodes = (
        sym(edges)
        .select(F.col("u").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(e: DataFrame) -> tuple:
        # one cheap agg instead of two exceptAll shuffles: the edge set is
        # stable iff (count, XOR of xxhash64(u,v)) is stable (bit_xor never
        # overflows under ANSI and is order-independent; an exact XOR
        # collision across rounds is ~2^-64 — ignored)
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row.n, row.h)

    cur = edges
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        sig = signature(cur)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    # at the fixed point every edge is (node, component-min)
    labels = cur.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    if not converged:
        # An unconverged edge set can hold several (doc_id, label) rows with
        # conflicting non-minimum labels — never emit that silently: collapse
        # to min(label) per doc (correct within each partially-merged piece)
        # and tell the caller to raise max_iter.
        import warnings

        warnings.warn(
            f"connected_components_star: no fixed point after {max_iter} "
            "rounds — labels collapsed to min per doc_id; raise max_iter "
            "(rounds needed grow ~log²(n))",
            RuntimeWarning,
            stacklevel=2,
        )
        labels = labels.groupBy("doc_id").agg(
            F.min("cluster_id").alias("cluster_id")
        )
    return (
        nodes.join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a: str, b: str) -> F.Column:
    """cos(a,b) as dot/(‖a‖·‖b‖) — zip_with + aggregate folds, JVM-side,
    double precision, left-to-right order (matches the DuckDB oracle)."""
    def dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    return F.expr(f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))")


def embedding_near_pairs(
    emb: DataFrame,
    min_cosine: float = 0.9,
    block_col: str = "label",
) -> DataFrame:
    """Embedding near-duplicate pairs, blocked self-join on ``block_col``.

    Blocking bounds the pair count to Σ block² instead of N²; at 100 TB the
    block column is a coarse quantizer (IVF cell / LSH bucket — see
    similarity.sign_lsh_bucket), here any low-cardinality partition key.

    Norms are computed ONCE per vector before the join (N folds), so each
    pair evaluates a single dot product instead of three — same result
    bit-for-bit (the norm fold is unchanged), 3× less codegen work on the
    O(pairs) side.
    """
    dot_self = (
        "aggregate(zip_with(embedding, embedding, "
        "(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    normed = emb.withColumn("norm", F.expr(f"sqrt({dot_self})"))
    a = normed.alias("a")
    b = normed.alias("b")
    dot_ab = (
        "aggregate(zip_with(a.embedding, b.embedding, "
        "(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cos = F.round(F.expr(dot_ab) / (F.col("a.norm") * F.col("b.norm")), 4)
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
