"""Approximate-nearest-neighbor search over an embedding column.

Not present in the reference (it has no vector data); required by the
training-data-pipeline surface.  Two strategies:

- **brute-force top-k** — broadcast the (small) query set, JVM-side
  `zip_with`/`aggregate` cosine against every corpus vector, per-query
  window top-k.  Exact; the baseline and the verifier for the ANN path.
  Cost: |Q|·|N| dot products, one shuffle for the window.  At 100 TB this is
  the re-rank stage, not the full scan.
- **sign-LSH bucketed top-k** — deterministic random-hyperplane-style LSH
  using axis sign bits (bit_d = embedding[d] ≥ 0 for a fixed dim subset):
  corpus is bucketed once (a narrow int column, partition-prunable), a query
  probes only its own bucket.  Recall < 1 by design; the candidate set per
  query drops from N to N/2^bits.  The scale path: bucket is a partition
  key of the vector table, so a probe is a partition-pruned scan.

All column-expression math (no UDFs) so the DuckDB oracle mirrors exactly:
same dot-product fold order, same rounding, same (score, id) tie-break.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas-UDF type hints resolve via module globals
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import cosine_expr


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries``: (query_id, q_embedding).  Broadcast-joined against the
    corpus (no shuffle of the big side); ranking window shuffles only
    (query_id, vec_id, cosine) — the embedding columns are pruned before the
    exchange.  Ties broken by vec_id ascending on the ROUNDED score so the
    ordering is engine-independent.
    """
    scored = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = F.round(cosine_expr("embedding", "q_embedding"), 4)
    scored = scored.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def sign_lsh_bucket(col: str, dims: list[int]) -> F.Column:
    """Bucket id = Σ_i [embedding[dims[i]] ≥ 0] · 2^i  (axis-sign LSH).

    Deterministic, engine-portable (float32 ≥ 0 compare is exact), and cheap
    enough to be a generated partition column on the vector table.
    """
    acc = " + ".join(
        f"(CASE WHEN {col}[{d}] >= 0 THEN 1 ELSE 0 END) * {1 << i}"
        for i, d in enumerate(dims)
    )
    return F.expr(acc)


def _dot(x: str, y: str) -> str:
    """Left-to-right double fold — identical op order to cosine_expr (and to
    the DuckDB oracle), so literal-array and column-pair paths agree bitwise."""
    return (
        f"aggregate(zip_with({x}, {y}, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _array_lit(vals: list[float]) -> str:
    # repr() round-trips doubles exactly; the JVM parses the same IEEE value
    return "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def _py_norm(vals: list[float]) -> float:
    """Left-to-right IEEE norm fold — bit-equal to sqrt(_dot(x, x))."""
    import math

    acc = 0.0
    for v in vals:
        acc = acc + (v * v)
    return math.sqrt(acc)


def _inline_cos_structs(rows) -> list[str]:
    """Per-centroid ``struct(cos AS c, -centroid_id AS nid)`` literal exprs
    against a row's ``embedding`` column, ordered by centroid_id.

    Hoists the constant folds out of the per-(row × centroid) work: each
    centroid's norm is computed ONCE here with the exact left-to-right IEEE
    fold the SQL aggregate would run (Python float IS an IEEE double; v*v
    then acc+prod round identically in the same order, and sqrt is correctly
    rounded in both), and the row norm is the hoisted ``__qn`` column the
    caller must provide — cutting 3 O(dims) folds per (row, centroid) to
    1 + 1/k.  Zero-norm rows/centroids pin cos to -1 (see ivf_assign)."""
    structs = []
    for r in sorted(rows, key=lambda r: r.centroid_id):
        arr = _array_lit(list(r.c_embedding))
        cn = _py_norm(list(r.c_embedding))
        if cn == 0.0:
            cos = "CAST(-1.0 AS DOUBLE)"
        else:
            cos = (
                f"CASE WHEN __qn = CAST(0.0 AS DOUBLE) "
                f"THEN CAST(-1.0 AS DOUBLE) "
                f"ELSE round({_dot('embedding', arr)} / "
                f"(__qn * CAST({cn!r} AS DOUBLE)), 6) END"
            )
        structs.append(
            f"struct({cos} AS c, CAST({-r.centroid_id} AS BIGINT) AS nid)"
        )
    return structs


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, max_inline_centroids: int = 256
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    by cosine (ties → lowest centroid_id).

    **Map-side argmin — zero shuffle.**  The k centroids are collected (a
    coarse quantizer is small by construction — the same deliberate
    small-collect a broadcast does) and inlined as array literals; each
    vector row folds over them with ``greatest(struct(cos, -centroid_id)…)``
    entirely inside its scan task.  The previous formulation ranked the
    N×k broadcast cross join with a per-vec_id window — at 10^9 embeddings
    that window's exchange shuffles the expanded set (embeddings included)
    once per k-means iteration; this one shuffles nothing.

    Quantizers wider than ``max_inline_centroids`` — or whose inlined
    literal mass ``k × dims`` exceeds 32k values (high-dim quantizers would
    otherwise blow codegen/analysis expression limits) — fall back to a
    relational ``max_by`` partial aggregation (shuffles N rows, not N×k).
    At scale the assignment is a one-off build step and ``cell`` becomes
    the vector table's partition column, so a probe reads one partition.

    Zero-norm vectors (and zero-norm centroids) have no defined cosine;
    division would poison the argmin with NULL/NaN — NaN sorts ABOVE every
    real cosine in Spark, so an unguarded fold would send every zero-norm
    row to an arbitrary cell and a NULL ``cell`` into the k-means mean.
    Both paths pin their cosine to -1.0 instead, so zero-norm rows
    deterministically land in the lowest centroid_id cell.

    NOTE — eager contract: the ``centroids.collect()`` runs a Spark job at
    CALL time (like the standard k-means driver loop), so composing this
    plan executes the centroid lineage even if the result is never used;
    errors in it surface here, not at the downstream action.
    """
    rows = centroids.select("centroid_id", "c_embedding").collect()
    dims = len(rows[0].c_embedding) if rows else 0
    if rows and len(rows) <= max_inline_centroids and len(rows) * dims <= 32768:
        structs = _inline_cos_structs(rows)
        # max of (cos, -centroid_id) == (cos desc, centroid_id asc) —
        # the same total order the window version used
        best = f"greatest({', '.join(structs)})" if len(structs) > 1 else structs[0]
        return (
            emb.withColumn(
                "__qn", F.expr(f"sqrt({_dot('embedding', 'embedding')})")
            )
            .select(
                "vec_id",
                "embedding",
                F.expr(f"CAST(-({best}.nid) AS {_cid_type(centroids)})").alias(
                    "cell"
                ),
            )
        )
    scored = emb.crossJoin(F.broadcast(centroids))
    # guarded cosine: ANSI mode raises on division by zero, and even with it
    # off a 0/0 NaN would sort above every real cosine — pin 0-norm to -1
    # (CASE branches are lazy, so the division never runs on a 0 norm)
    cos = F.expr(
        f"CASE WHEN sqrt({_dot('embedding', 'embedding')}) = CAST(0.0 AS DOUBLE)"
        f"  OR sqrt({_dot('c_embedding', 'c_embedding')}) = CAST(0.0 AS DOUBLE)"
        f" THEN CAST(-1.0 AS DOUBLE)"
        f" ELSE round({_dot('embedding', 'c_embedding')} /"
        f" (sqrt({_dot('embedding', 'embedding')})"
        f" * sqrt({_dot('c_embedding', 'c_embedding')})), 6) END"
    )
    return (
        scored.select("vec_id", "embedding", "centroid_id", cos.alias("__c"))
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(centroid_id, struct(__c, -centroid_id))"
            ).alias("cell"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", "cell")
    )


def _cid_type(centroids: DataFrame) -> str:
    return centroids.schema["centroid_id"].dataType.simpleString()


def ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    keep: tuple[str, ...] = (),
    max_inline_centroids: int = 256,
) -> DataFrame:
    """Top-``nprobe`` probe cells per query — **map-side, zero shuffle**.

    The same collected-centroid-literal trick as :func:`ivf_assign`, but
    top-n instead of argmax: each query row sorts the inline
    ``struct(cos, -centroid_id)`` array (descending = cos desc, centroid_id
    asc — the identical total order the window formulation ranked by),
    slices ``nprobe``, and explodes.  The previous formulation broadcast the
    centroids into a cross join and ranked with a per-query window — two
    exchanges that exist only to pick ≤nprobe ints per query; this one
    computes them inside the query's own scan task.  Quantizers too wide to
    inline fall back to exactly that broadcast-crossJoin + window.

    ``queries``: (query_id, q_embedding).  Returns (query_id, *keep, cell)
    with ≤nprobe rows per query; ``keep`` carries extra query columns (e.g.
    ``q_embedding`` for an exact re-rank) through.
    """
    rows = centroids.select("centroid_id", "c_embedding").collect()
    dims = len(rows[0].c_embedding) if rows else 0
    qv = queries.select(
        "query_id", *keep, F.col("q_embedding").alias("embedding")
    )
    if rows and len(rows) <= max_inline_centroids and len(rows) * dims <= 32768:
        structs = _inline_cos_structs(rows)
        cells = (
            f"transform(slice(reverse(array_sort(array({', '.join(structs)}))), "
            f"1, {int(nprobe)}), s -> CAST(-(s.nid) AS {_cid_type(centroids)}))"
        )
        return (
            qv.withColumn(
                "__qn", F.expr(f"sqrt({_dot('embedding', 'embedding')})")
            )
            .select(
                "query_id", *keep, F.explode(F.expr(cells)).alias("cell")
            )
        )
    # same zero-norm guard as ivf_assign's fallback: pin cos to -1 so the
    # ranking matches the inline path on degenerate vectors
    cos = F.expr(
        f"CASE WHEN sqrt({_dot('embedding', 'embedding')}) = CAST(0.0 AS DOUBLE)"
        f"  OR sqrt({_dot('c_embedding', 'c_embedding')}) = CAST(0.0 AS DOUBLE)"
        f" THEN CAST(-1.0 AS DOUBLE)"
        f" ELSE round({_dot('embedding', 'c_embedding')} /"
        f" (sqrt({_dot('embedding', 'embedding')})"
        f" * sqrt({_dot('c_embedding', 'c_embedding')})), 6) END"
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("centroid_id").asc()
    )
    return (
        qv.crossJoin(F.broadcast(centroids))
        .select("query_id", *keep, "centroid_id", cos.alias("__c"))
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", *keep, F.col("centroid_id").alias("cell"))
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    seed: str = "km1",
    checkpoint: bool = False,
) -> DataFrame:
    """Train the IVF coarse quantizer: seeded k-means, fully relational and
    engine-portable (the DuckDB oracle runs the identical algorithm).

    - **init**: the k vectors with the smallest md5(seed‖vec_id) — a
      deterministic uniform sample, fetched with a distributed top-k
      (TakeOrderedAndProject), never a global sort.
    - **iterate**: assign every vector to its nearest centroid by rounded
      cosine (ties → lowest centroid id), then recompute each cell's mean
      per dimension with an order-independent DECIMAL sum (float partial-agg
      order would make the centroids nondeterministic), rounded to 6
      decimals so both engines carry bit-identical centroid values into the
      next iteration.  Emptied cells drop out in both engines alike.

    Everything is joins + aggregations over (cell, pos) rows — no driver
    materialization; at real scale pass ``checkpoint=True`` to
    localCheckpoint between iterations and keep the plan shallow.

    Returns (centroid_id, c_embedding:array<double>).
    """
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col("vec_id").cast("string")))
    top = (
        emb.select("vec_id", "embedding", h.alias("__h"))
        .orderBy("__h", "vec_id")
        .limit(k)
    )
    # the k seed rows are collected and re-created with enumerated ids:
    # the training loop is eager anyway (ivf_assign collects centroids per
    # iteration), the distributed fetch is a TakeOrderedAndProject (never a
    # global sort), and this avoids a no-partition window (a full-data
    # single-partition shuffle at any real k, plus the WindowExec warning).
    seed_rows = sorted(top.collect(), key=lambda r: (r["__h"], r["vec_id"]))
    cent = emb.sparkSession.createDataFrame(
        [(i, [float(v) for v in r["embedding"]]) for i, r in enumerate(seed_rows)],
        "centroid_id int, c_embedding array<double>",
    )
    for _ in range(iters):
        assigned = ivf_assign(emb, cent)
        means = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(24,12)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("m")
            )
        )
        cent = means.groupBy("cell").agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, m))), s -> s.m)"
            ).alias("c_embedding")
        ).select(F.col("cell").alias("centroid_id"), "c_embedding")
        if checkpoint:
            cent = cent.localCheckpoint()
    return cent


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` nearest centroid cells.

    Corpus and queries are assigned with the SAME quantizer; the candidate
    join is on ``cell``, so the scan per query is nprobe·|N|/|cells| — on a
    cell-partitioned table it is partition-pruned I/O, not just less
    compute.  Exact cosine re-rank inside the probed cells; nprobe > 1
    buys recall at linear candidate cost (the standard IVF knob).
    """
    e = ivf_assign(emb, centroids)
    q = ivf_probe_cells(queries, centroids, nprobe, keep=("q_embedding",))
    cand = e.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = F.round(cosine_expr("embedding", "q_embedding"), 4)
    scored = cand.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _l2_sql(x_sq: str, xy: str, y_sq: str) -> str:
    """Squared L2 via dot products, fixed association ((x·x − 2·x·y) + y·y)
    so Spark, DuckDB, and the Python LUT builder run the identical IEEE op
    sequence.  The leading ``0.0 −`` in callers that negate avoids −0.0."""
    return f"(({x_sq} - CAST(2.0 AS DOUBLE) * {xy}) + {y_sq})"


def _py_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right IEEE fold — bit-equal to ``_dot`` / list_dot_product."""
    acc = 0.0
    for p, q in zip(a, b):
        acc = acc + (p * q)
    return acc


def _py_l2(a: list[float], b: list[float]) -> float:
    return (_py_dot(a, a) - 2.0 * _py_dot(a, b)) + _py_dot(b, b)


def pq_codebooks(
    emb: DataFrame,
    m: int = 2,
    ksub: int = 4,
    iters: int = 1,
    seed: str = "pq1",
) -> DataFrame:
    """Train a product-quantization codebook: split the embedding into ``m``
    contiguous subspaces and run seeded k-means (L2, ``ksub`` codewords,
    ``iters`` refinement passes) independently in each.

    PQ is the 100-TB ANN memory story: a D-dim float32 vector (4·D bytes)
    compresses to ``m`` small codes (m bytes at ksub ≤ 256), so a
    billion-vector index fits executor memory and distance evaluation
    becomes ``m`` table lookups instead of a D-wide dot product (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    Fully deterministic and engine-portable, like :func:`kmeans_centroids`:
    per-subspace init = the ``ksub`` sub-vectors with the smallest
    ``md5(seed:m:vec_id)``; assignment = argmin of round(L2², 6) with ties
    to the lowest code; update = per-dimension DECIMAL mean rounded to 6
    (order-independent), so a DuckDB oracle reproduces the exact codebook.
    Cells that lose every member drop out in both engines alike.

    Eager contract: the driver loop collects per iteration (standard
    k-means shape) — small data only (m·ksub codewords).

    Returns (subspace:int, code_id:int, codeword:array<double>).
    """
    first = emb.select("embedding").first()
    if first is None:
        return emb.sparkSession.createDataFrame(
            [], "subspace int, code_id int, codeword array<double>"
        )
    dims = len(first.embedding)
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m={m} subspaces")
    d = dims // m
    rows_out: list[tuple[int, int, list[float]]] = []
    for mi in range(m):
        sub = emb.select(
            "vec_id",
            F.expr(f"slice(embedding, {mi * d + 1}, {d})").alias("sv"),
        )
        h = F.md5(
            F.concat(F.lit(f"{seed}:{mi}:"), F.col("vec_id").cast("string"))
        )
        seed_rows = sorted(
            sub.withColumn("__h", h).orderBy("__h", "vec_id").limit(ksub).collect(),
            key=lambda r: (r["__h"], r["vec_id"]),
        )
        cw = {i: [float(v) for v in r["sv"]] for i, r in enumerate(seed_rows)}
        for _ in range(iters):
            assigned = _pq_assign_sub(sub, cw)
            means = (
                assigned.select(
                    "code", F.posexplode("sv").alias("pos", "val")
                )
                .groupBy("code", "pos")
                .agg(
                    F.round(
                        F.sum(F.col("val").cast("decimal(24,12)")).cast(
                            "double"
                        )
                        / F.count("*"),
                        6,
                    ).alias("cval")
                )
                .collect()
            )
            nxt: dict[int, list[float]] = {}
            for r in means:
                nxt.setdefault(r["code"], [0.0] * d)[r["pos"]] = r["cval"]
            cw = nxt
        rows_out.extend((mi, c, v) for c, v in sorted(cw.items()))
    return emb.sparkSession.createDataFrame(
        rows_out, "subspace int, code_id int, codeword array<double>"
    )


def _pq_assign_sub(sub: DataFrame, cw: dict[int, list[float]]) -> DataFrame:
    """Map-side L2 argmin of ``sv`` against literal codewords — the PQ
    analog of :func:`ivf_assign`'s inline path (zero shuffle; codebooks are
    small by construction).  ``(0.0 − round(d2,6))`` negates without ever
    producing −0.0, so the greatest(struct…) total order is exact."""
    structs = []
    for code in sorted(cw):
        arr = _array_lit(cw[code])
        nb = _py_dot(cw[code], cw[code])
        d2 = _l2_sql(
            "__na", _dot("sv", arr), f"CAST({nb!r} AS DOUBLE)"
        )
        structs.append(
            f"struct((CAST(0.0 AS DOUBLE) - round({d2}, 6)) AS nd, "
            f"CAST({-code} AS BIGINT) AS nc)"
        )
    best = f"greatest({', '.join(structs)})" if len(structs) > 1 else structs[0]
    return sub.withColumn("__na", F.expr(_dot("sv", "sv"))).withColumn(
        "code", F.expr(f"CAST(-({best}.nc) AS INT)")
    ).drop("__na")


def pq_encode(
    emb: DataFrame, codebooks: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Encode every vector to its PQ codes — one INT per subspace, picked
    map-side against the collected codebook literals (zero shuffle, the
    same deliberate small-collect a broadcast does).  At scale this is the
    one-off index build; the stored table is (vec_id, codes), m bytes of
    payload per vector instead of 4·D.

    Returns (vec_id, *keep, codes:array<int>) with codes[i] = the code in
    subspace i; ``keep`` carries extra columns (e.g. the IVF cell) through.
    """
    by_sub, m, d = _collect_codebooks(codebooks)
    # hoist each subspace's slice and self-norm fold into a column computed
    # ONCE per row (same hoist _pq_assign_sub does) — inlining them into
    # every codeword struct would re-run an O(d) fold ksub times per
    # subspace per row in the index-build hot path
    out = emb
    code_exprs = []
    for mi in range(m):
        sv_col, na_col = f"__sv{mi}", f"__na{mi}"
        out = out.withColumn(
            sv_col, F.expr(f"slice(embedding, {mi * d + 1}, {d})")
        ).withColumn(na_col, F.expr(_dot(sv_col, sv_col)))
        structs = []
        for code in sorted(by_sub[mi]):
            cwv = by_sub[mi][code]
            nb = _py_dot(cwv, cwv)
            d2 = _l2_sql(
                na_col, _dot(sv_col, _array_lit(cwv)), f"CAST({nb!r} AS DOUBLE)"
            )
            structs.append(
                f"struct((CAST(0.0 AS DOUBLE) - round({d2}, 6)) AS nd, "
                f"CAST({-code} AS BIGINT) AS nc)"
            )
        best = (
            f"greatest({', '.join(structs)})" if len(structs) > 1 else structs[0]
        )
        code_exprs.append(f"CAST(-({best}.nc) AS INT)")
    return out.select(
        "vec_id",
        *keep,
        F.expr(f"array({', '.join(code_exprs)})").alias("codes"),
    )


def _collect_codebooks(
    codebooks: DataFrame,
) -> tuple[dict[int, dict[int, list[float]]], int, int]:
    """Collect (subspace → code_id → codeword); returns (by_sub, m, d)."""
    rows = codebooks.select("subspace", "code_id", "codeword").collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(r["subspace"], {})[r["code_id"]] = [
            float(v) for v in r["codeword"]
        ]
    if not by_sub:
        raise ValueError("empty codebook")
    m = max(by_sub) + 1
    d = len(next(iter(by_sub[0].values())))
    return by_sub, m, d


def _lut_for(
    qv: list[float], by_sub: dict, m: int, d: int
) -> list[list[int]]:
    """One vector's ADC lookup table: lut[mi][code] = floor(L2²(q_sub,
    codeword)·1e6 + 0.5) as exact integers (order-free summation + engine
    portability).  Dropped codes hold a 0 filler that no emitted code ever
    references."""
    import math

    lut = []
    for mi in range(m):
        qs = qv[mi * d : (mi + 1) * d]
        row = [0] * (max(by_sub[mi]) + 1)
        for code, cwv in by_sub[mi].items():
            row[code] = int(math.floor(_py_l2(qs, cwv) * 1e6 + 0.5))
        lut.append(row)
    return lut


def _lut_udf(by_sub: dict, m: int, d: int):
    """Arrow-batched pandas UDF building one ADC LUT per input vector,
    EXECUTOR-side.  Each row runs the identical left-to-right Python float
    fold as :func:`_lut_for` — plain IEEE double ops, no BLAS, so results
    are bit-equal across driver and executor processes (the codebook ships
    in the closure: m·ksub·d doubles, model parameters, tiny)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<array<bigint>>")
    def build(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            [_lut_for([float(v) for v in vec], by_sub, m, d) for vec in vecs]
        )

    return build


def _query_luts(
    queries: DataFrame, by_sub: dict, m: int, d: int
) -> DataFrame:
    """Per-query ADC lookup tables — built where the query rows live (an
    Arrow-batched pandas UDF per partition), not by a driver loop: with a
    large query batch the build scales with executors and no q_embedding
    ever moves to the driver."""
    lut = _lut_udf(by_sub, m, d)
    return queries.select(
        "query_id", lut(F.col("q_embedding")).alias("lut")
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
) -> DataFrame:
    """PQ asymmetric-distance top-k: per query, distance to every corpus
    vector ≈ Σ_subspace LUT[subspace][code], where the lookup table holds
    the exact L2² from the RAW query sub-vector to each codeword.

    The LUTs are built driver-side from the collected queries × codebooks
    (|Q|·m·ksub doubles — tiny) and broadcast as an array-of-arrays column;
    each corpus row then folds its m codes through the LUT entirely inside
    its scan task — O(m) integer adds per (query, vector) pair instead of a
    D-wide dot product, and the corpus side ships only (vec_id, codes).
    Entries are scaled-integer e6 (floor(d2·1e6 + 0.5)) so the ADC sum is
    exact in any order and engine-portable.  Only the final
    (query_id, vec_id, adc_e6) triple reaches the ranking shuffle.

    Returns (query_id, vec_id, adc_e6, rank), rank by adc ASC, vec_id ASC.
    """
    codes = pq_encode(emb, codebooks)
    by_sub, m, d = _collect_codebooks(codebooks)
    qlut = _query_luts(queries, by_sub, m, d)
    return _adc_rank(codes, qlut, k, on=None)


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-ADC — the canonical billion-scale ANN index (FAISS ``IVFPQ``):
    the coarse quantizer prunes WHICH vectors are scanned (a query touches
    ``nprobe``·N/cells candidates; on a cell-partitioned table that is
    partition-pruned I/O), and PQ compresses WHAT is scanned (m bytes +
    O(m) LUT adds per candidate instead of 4·D bytes + a D-wide dot
    product).  Composes :func:`ivf_assign` (map-side cell), :func:`pq_encode`
    (map-side codes — the stored index is (vec_id, cell, codes)), and
    :func:`ivf_probe_cells` (map-side probe set) with the ADC machinery of
    :func:`pq_adc_topk`; the probe set broadcast-joins the driver-built
    LUTs, so the only exchange in the whole serve-time plan is the final
    per-query ranking window over (query_id, vec_id, adc_e6) triples.

    Returns (query_id, vec_id, adc_e6, rank), rank by adc ASC, vec_id ASC.
    """
    indexed = pq_encode(
        ivf_assign(emb, centroids), codebooks, keep=("cell",)
    )
    probe_side = _flat_probe_side(queries, centroids, codebooks, nprobe)
    return _adc_rank(indexed, probe_side, k)


def _flat_probe_side(
    queries: DataFrame, centroids: DataFrame, codebooks: DataFrame, nprobe: int
) -> DataFrame:
    """(query_id, cell, lut) for raw-vector PQ: cell-independent per-query
    LUTs joined onto the map-side probe set.  Both sides are |Q|-sized —
    broadcast the LUT join so the probe side never sort-merges (it is
    itself broadcast into the cell join downstream)."""
    probes = ivf_probe_cells(queries, centroids, nprobe)
    by_sub, m, d = _collect_codebooks(codebooks)
    qlut = _query_luts(queries, by_sub, m, d)
    return probes.join(F.broadcast(qlut), "query_id")


def _adc_rank(
    indexed: DataFrame, probe_side: DataFrame, k: int, on: str | None = "cell"
) -> DataFrame:
    """Shared ADC tail: broadcast the LUT-carrying probe side into the join
    over the (vec_id[, cell], codes) index (``on=None`` = the flat-PQ cross
    join against every vector), fold codes through the LUT, rank per query.
    The ranking window is the only exchange."""
    adc = F.expr(
        "aggregate(zip_with(codes, lut, (c, t) -> t[c]), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    joined = (
        indexed.join(F.broadcast(probe_side), on)
        if on
        else indexed.crossJoin(F.broadcast(probe_side))
    )
    cand = (
        joined.filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_e6", "rank")
    )


def ivf_residuals(
    assigned: DataFrame, centroids: DataFrame, max_inline_centroids: int = 256
) -> DataFrame:
    """Residual x − c(cell) per assigned vector — **map-side, zero shuffle**
    when the quantizer inlines: the centroid arrays become a cell-keyed
    ``map()`` literal and each row ``zip_with``-subtracts inside its own
    scan task.  Per-element subtraction is a single IEEE op on identical
    operands in every engine, so residuals are bit-portable wherever the
    inputs are.  Wide quantizers fall back to a broadcast join on cell.

    ``assigned``: (vec_id, embedding, cell) from :func:`ivf_assign`.
    Returns (vec_id, cell, embedding) with ``embedding`` = the residual.
    """
    rows = centroids.select("centroid_id", "c_embedding").collect()
    dims = len(rows[0].c_embedding) if rows else 0
    if rows and len(rows) <= max_inline_centroids and len(rows) * dims <= 32768:
        entries = ", ".join(
            f"CAST({r.centroid_id} AS {_cid_type(centroids)}), "
            f"{_array_lit(list(r.c_embedding))}"
            for r in sorted(rows, key=lambda r: r.centroid_id)
        )
        resid = (
            f"zip_with(embedding, element_at(map({entries}), cell), "
            f"(a, b) -> a - b)"
        )
        return assigned.select(
            "vec_id", "cell", F.expr(resid).alias("embedding")
        )
    return (
        assigned.join(
            F.broadcast(centroids),
            assigned["cell"] == centroids["centroid_id"],
        )
        .select(
            "vec_id",
            "cell",
            F.expr(
                "zip_with(embedding, c_embedding, (a, b) -> a - b)"
            ).alias("embedding"),
        )
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Residual-encoded IVF-ADC — the faithful FAISS ``IVFPQ`` (Jégou et
    al. 2011 §IV.A): PQ codes compress the RESIDUAL x − c(cell), not the
    raw vector, so the codebook only has to cover the (much tighter)
    within-cell displacement distribution and quantization error drops for
    the same m·ksub budget.  ``codebooks`` must therefore be trained on
    :func:`ivf_residuals` output.

    The asymmetric distance becomes cell-dependent — d(q, x) ≈
    Σ_m LUT_cell[m][code] with LUT_cell built from the QUERY residual
    q − c(cell) — so the LUTs are per (query, probed cell).  The whole
    probe side stays executor-side: :func:`ivf_probe_cells` emits the
    probe set, a map-side ``zip_with`` subtracts the centroid, and an
    Arrow-batched pandas UDF builds each LUT where its row lives (no
    driver loop over query rows — a million-query batch scales with
    executors).  The (query_id, cell, lut) frame then broadcasts into the
    cell join.  The serve-time plan keeps the :func:`ivf_pq_topk` shape:
    index = (vec_id, cell, codes) built map-side, one final ranking
    exchange.

    Returns (query_id, vec_id, adc_e6, rank), rank by adc ASC, vec_id ASC.
    """
    resid = ivf_residuals(ivf_assign(emb, centroids), centroids)
    indexed = pq_encode(resid, codebooks, keep=("cell",))
    probe_side = _residual_probe_side(queries, centroids, codebooks, nprobe)
    return _adc_rank(indexed, probe_side, k)


def _residual_probe_side(
    queries: DataFrame, centroids: DataFrame, codebooks: DataFrame, nprobe: int
) -> DataFrame:
    """(query_id, cell, lut) for residual PQ — fully EXECUTOR-side (no
    driver loop over query rows, VERDICT-r4 #4): the probe set from
    :func:`ivf_probe_cells` broadcast-joins its centroid, the query
    residual q − c(cell) is a map-side ``zip_with`` subtraction (cast to
    DOUBLE so float32 inputs reproduce the double-precision arithmetic the
    Python fold uses), and the per-(query, cell) LUT is built by the
    Arrow-batched pandas UDF of :func:`_lut_udf` — the identical
    left-to-right fold, now running where the |Q|·nprobe rows live."""
    by_sub, m, d = _collect_codebooks(codebooks)
    probes = ivf_probe_cells(queries, centroids, nprobe)
    resid = (
        probes.join(queries.select("query_id", "q_embedding"), "query_id")
        .join(
            F.broadcast(
                centroids.select(
                    F.col("centroid_id").alias("cell"), "c_embedding"
                )
            ),
            "cell",
        )
        .select(
            "query_id",
            "cell",
            F.expr(
                "zip_with(q_embedding, c_embedding, "
                "(a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
            ).alias("__qr"),
        )
    )
    lut = _lut_udf(by_sub, m, d)
    return resid.select("query_id", "cell", lut(F.col("__qr")).alias("lut"))


def lsh_bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: list[int] | None = None,
) -> DataFrame:
    """ANN top-k: probe only the query's sign-LSH bucket.

    The bucket-equality join replaces the cross join — with B buckets the
    scanned candidate set is ~N/B per query.  On a partitioned vector table
    the bucket predicate partition-prunes the scan entirely.
    """
    dims = dims or [0, 8, 16, 24, 32, 40, 48, 56]
    e = emb.withColumn("bucket", sign_lsh_bucket("embedding", dims))
    q = queries.withColumn("bucket", sign_lsh_bucket("q_embedding", dims))
    cand = e.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = F.round(cosine_expr("embedding", "q_embedding"), 4)
    scored = cand.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    eps: float = 0.95,
    max_inline_centroids: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication in embedding
    space — cluster the corpus with a coarse quantizer, then inside each
    cluster drop every vector that has a near-identical neighbour
    (cos ≥ ``eps``) ranked ahead of it.  The paper keeps the member with
    the LOWEST similarity to its centroid (the cluster's "outlier"
    preserves the most diversity); ties break on vec_id ascending, so the
    survivor set is deterministic.

    Shape at scale: assignment is :func:`ivf_assign`'s zero-shuffle
    map-side argmin; the candidate join is blocked on ``cell``, so the
    pair count is Σ cell² instead of N² — the number of clusters is the
    knob (SemDeDup uses k ∝ N so cells stay small and the join stays
    linear; a skewed cell shows up in the AQE skew-join handling like any
    hot key).  Only (vec_id, cell, cent_cos) survive to the output — the
    embeddings never leave the pair stage.

    Returns (vec_id, cell, cent_cos DOUBLE, keep BOOLEAN) for EVERY input
    row; filter ``keep`` for the deduplicated corpus.
    """
    assigned = ivf_assign(emb, centroids, max_inline_centroids)
    # centroid norms are projected BEFORE the broadcast so the hash relation
    # stores them materialized — one fold per centroid, not per joined row
    cent = F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("cell"),
            F.col("c_embedding").alias("__cvec"),
            F.expr(f"sqrt({_dot('c_embedding', 'c_embedding')})").alias(
                "__cnorm"
            ),
        )
    )
    # hoist each row's norm once: the pair stage then costs ONE dot fold per
    # candidate instead of five (the hoisted sqrt/product sequence is the
    # identical IEEE op order, so round-6 parity with the oracle holds)
    cos_cent = F.expr(
        "CASE WHEN __n = CAST(0.0 AS DOUBLE) OR __cnorm = CAST(0.0 AS DOUBLE)"
        " THEN CAST(-1.0 AS DOUBLE)"
        f" ELSE round({_dot('embedding', '__cvec')} / (__n * __cnorm), 6) END"
    )
    scored = (
        assigned.withColumn(
            "__n", F.expr(f"sqrt({_dot('embedding', 'embedding')})")
        )
        .join(cent, "cell")
        .select("vec_id", "embedding", "__n", "cell", cos_cent.alias("cent_cos"))
    )
    a, b = scored.alias("a"), scored.alias("b")
    better = (F.col("b.cent_cos") < F.col("a.cent_cos")) | (
        (F.col("b.cent_cos") == F.col("a.cent_cos"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    pair_cos = F.expr(
        "CASE WHEN a.__n = CAST(0.0 AS DOUBLE) OR b.__n = CAST(0.0 AS DOUBLE)"
        " THEN CAST(-1.0 AS DOUBLE)"
        f" ELSE round({_dot('a.embedding', 'b.embedding')} / (a.__n * b.__n), 6) END"
    )
    dropped = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & better)
        .filter(pair_cos >= F.lit(eps))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        scored.drop("embedding")
        .join(
            dropped.withColumn("__dropped", F.lit(True)),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cell",
            "cent_cos",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def sq8_train(emb: DataFrame) -> tuple[list[float], list[float]]:
    """Scalar-quantizer training (FAISS ``SQ8``): per-dimension (min, span)
    over the corpus.  min/max SELECT existing input values (no arithmetic),
    so the trained bounds are bit-identical in any engine; span = mx − mn
    is one IEEE subtraction of those.  One aggregate with map-side partials
    (2·D doubles collected — the same deliberate small-collect a broadcast
    does; eager, like ivf_assign's centroid collect)."""
    dims = emb.select(F.size("embedding").alias("d")).first()["d"]
    aggs = []
    for i in range(dims):
        aggs.append(F.min(F.expr(f"embedding[{i}]")).alias(f"mn{i}"))
        aggs.append(F.max(F.expr(f"embedding[{i}]")).alias(f"mx{i}"))
    row = emb.agg(*aggs).first()
    mns = [float(row[f"mn{i}"]) for i in range(dims)]
    spans = [float(row[f"mx{i}"]) - float(row[f"mn{i}"]) for i in range(dims)]
    return mns, spans


def sq8_encode(
    emb: DataFrame,
    mns: list[float],
    spans: list[float],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector to D uint8 codes: round(((x − mn) · 255) / span),
    zero-span dims → 0.  Map-side transform over inlined bound literals —
    4 bytes/dim shrinks to 1, no shuffle, the stored index is
    (vec_id, *keep, codes); ``keep`` carries extra columns (e.g. the IVF
    ``cell``) through."""
    mns_l = _array_lit(mns)
    spans_l = _array_lit(spans)
    code = (
        "transform(embedding, (x, i) -> CASE"
        f" WHEN element_at({spans_l}, i + 1) = CAST(0.0 AS DOUBLE)"
        " THEN 0"
        f" ELSE CAST(round(((CAST(x AS DOUBLE) - element_at({mns_l}, i + 1))"
        f" * CAST(255.0 AS DOUBLE)) / element_at({spans_l}, i + 1), 0) AS INT)"
        " END)"
    )
    return emb.select("vec_id", *keep, F.expr(code).alias("codes"))


def sq8_adc_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """SQ8 asymmetric top-k: reconstruct x̂ᵢ = mnᵢ + (codeᵢ·spanᵢ)/255
    map-side from the stored codes and rank by L2²(x̂, query) with the
    fixed ((x·x − 2·x·y) + y·y) association, scaled-integer e6.

    Completes the quantization family next to PQ/IVF-PQ: SQ keeps
    per-dimension resolution (D bytes/vector) where PQ trades it for
    sub-space codebooks (m bytes); the serve plan is the same shape —
    broadcast queries against the code table, only (query_id, vec_id,
    adc_e6) reaches the ranking exchange.
    """
    mns, spans = sq8_train(emb)
    codes = sq8_encode(emb, mns, spans)
    mns_l, spans_l = _array_lit(mns), _array_lit(spans)
    recon = (
        f"transform(codes, (c, i) -> element_at({mns_l}, i + 1)"
        f" + (CAST(c AS DOUBLE) * element_at({spans_l}, i + 1))"
        " / CAST(255.0 AS DOUBLE))"
    )
    cand = (
        codes.withColumn("__r", F.expr(recon))
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    d2 = _l2_sql(
        _dot("__r", "__r"), _dot("__r", "q_embedding"),
        _dot("q_embedding", "q_embedding"),
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.expr(
            f"CAST(round({d2} * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT)"
        ).alias("adc_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_e6", "rank")
    )


def ivf_sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-SQ8 — the other half of the FAISS index matrix next to IVF-PQ:
    the coarse quantizer prunes WHICH vectors are scanned (``nprobe``
    cells, partition-prunable on a cell-keyed table), scalar quantization
    compresses WHAT is scanned (D bytes/vector, per-dimension resolution —
    vs PQ's m-byte codebook codes).  Stored index = (vec_id, cell, codes),
    both map-side; candidates reconstruct x̂ inside their scan task and
    only (query_id, vec_id, adc_e6) reaches the ranking exchange.

    Returns (query_id, vec_id, adc_e6, rank), rank by adc ASC, vec_id ASC.
    """
    assigned = ivf_assign(emb, centroids)
    mns, spans = sq8_train(emb)
    codes = sq8_encode(assigned, mns, spans, keep=("cell",))
    probe = ivf_probe_cells(queries, centroids, nprobe, keep=("q_embedding",))
    mns_l, spans_l = _array_lit(mns), _array_lit(spans)
    recon = (
        f"transform(codes, (c, i) -> element_at({mns_l}, i + 1)"
        f" + (CAST(c AS DOUBLE) * element_at({spans_l}, i + 1))"
        " / CAST(255.0 AS DOUBLE))"
    )
    cand = (
        codes.withColumn("__r", F.expr(recon))
        .join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    d2 = _l2_sql(
        _dot("__r", "__r"), _dot("__r", "q_embedding"),
        _dot("q_embedding", "q_embedding"),
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.expr(
            f"CAST(round({d2} * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT)"
        ).alias("adc_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_e6", "rank")
    )
