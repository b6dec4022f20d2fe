"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketing as the scale path (bucket first, search
within buckets — turns O(N·Q) into O(N·Q/2^planes) probes).

Engine notes: dot products run as ``F.aggregate``/``F.zip_with`` over
doubles (JVM, no UDF).  Scores are rounded to 4 decimals BEFORE ranking
so float summation-order noise between engines can't flip ranks; ties
break on candidate id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 4
_PLANE_MOD = 1997


def plane_weight(j: int, d: int) -> float:
    """deterministic pseudo-random hyperplane weights in [-0.5, 0.5)"""
    return ((1 + (j * 64 + d) * 2654435761) % _PLANE_MOD) / _PLANE_MOD - 0.5


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (all-zero or empty) vector has no cosine —
    # NULL, exactly what the DuckDB oracle's /0 yields — instead of an
    # ANSI divide-by-zero killing the job on one degenerate embedding
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """``_dot`` with the fold unrolled into a codegen'd expression.

    BIT-IDENTICAL to the HOF form by construction: ``F.aggregate``'s
    merge is sequential, so its sum is the left-associated
    ``((0.0 + x_0) + x_1) + …`` — exactly the chain built here
    (verified bitwise over every fixture pair plus ragged/NULL shapes
    in test_cosine_fast_bitwise_identical).  The difference is
    execution: the HOF form is interpreted per element, the unrolled
    GetArrayItem/multiply/add chain is not — measured ~30% less time
    per scored pair on the semdedup pair stage (250k pairs).  The
    trade: the unrolled expression pays a per-query plan/codegen
    constant (~1.7 s measured), so it LOSES on small pair counts —
    brute_force_topk's query-sized candidate set measured 0.6 s HOF
    vs 2.3 s unrolled, which is why only the high-pair-count semdedup
    stage uses it.  Callers must guard indexes against short arrays
    (ANSI throws on out-of-bounds) — see ``cosine_fast``."""
    s = F.lit(0.0)
    for d in range(dim):
        s = s + a[d].cast("double") * b[d].cast("double")
    return s


def cosine_fast(a: Column, b: Column, dim: int) -> Column:
    """``cosine`` with the codegen fast path for ``dim``-sized vectors
    and the HOF fallback for every other shape (short, ragged, NULL —
    where zip_with's null-padding semantics must be preserved).  The
    CaseWhen evaluates only the matching branch per row, so the
    interpreted fallback is paid exactly on the degenerate rows."""
    ok = (F.size(a) == dim) & (F.size(b) == dim)
    fast = F.try_divide(
        _dot_unrolled(a, b, dim),
        F.sqrt(_dot_unrolled(a, a, dim)) * F.sqrt(_dot_unrolled(b, b, dim)),
    )
    return F.when(ok, fast).otherwise(cosine(a, b))


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-norm the embedding column in place (+ ``vec_norm`` with the
    pre-normalization magnitude).  Pure per-row array math — scan-speed;
    normalizing once upstream turns every downstream cosine into a dot
    product (drops two sqrt+reduce passes per pair in the ANN kernels)."""
    # The norm rides in via array_repeat + zip_with, NOT inside the
    # per-element lambda: interpreted HOFs get no CSE, so a lambda
    # referencing the norm re-reduces the whole vector PER ELEMENT —
    # O(d²)/row, measured 85.6 s vs 1.1 s at 200k×256-d local[32].
    n = _norm(F.col(vec_col))
    return df.withColumns(
        {
            "vec_norm": n,
            vec_col: F.zip_with(
                F.col(vec_col),
                F.array_repeat(n, F.size(F.col(vec_col))),
                lambda x, nn: (x.cast("double") / nn).cast("float"),
            ),
        }
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q = round(x / scale) ∈ [−127, 127] (+ the scale for dequant).  The
    standard 4× storage/bandwidth cut for ANN corpora; per-row array
    math, no shuffle, and the int8 arrays dot-product in whole-stage
    codegen just like floats."""
    # scale via array_repeat + zip_with, not inside the element lambda
    # (no CSE through interpreted HOFs → O(d²)/row otherwise; measured
    # 37.2 s vs 1.5 s at 200k×256-d local[32] — see l2_normalize)
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    return df.withColumns(
        {
            "q_scale": scale,
            "q_vec": F.zip_with(
                F.col(vec_col),
                F.array_repeat(scale, F.size(F.col(vec_col))),
                lambda x, s: F.round(x.cast("double") / s).cast("int"),
            ),
        }
    )


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """exact top-k neighbors for a small query set.

    The query side is broadcast (a handful of rows), so the 'cross'
    join is really one scan of the corpus — the right baseline shape
    for a 10^12-row table."""
    q = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn("score", F.round(cosine(F.col("qvec"), F.col("cvec")), 4))
        .select("qid", "cid", "score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def duck_brute_force_topk(query_ids: list[int], k: int = 5, table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM {table} WHERE vec_id IN ({ids})),
c AS (SELECT vec_id AS cid, embedding AS cvec FROM {table}),
scored AS (
  SELECT qid, cid,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1),
        i -> CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, len(cvec) + 1), i -> CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE))))),
    4) AS score
  FROM c JOIN q ON qid <> cid
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS INT) AS rank
  FROM scored
)
SELECT qid, cid, score, rank FROM ranked WHERE rank <= {k}
"""


def lsh_bucket(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """random-hyperplane bucket id (sign bits of N_PLANES dots)."""
    acc = None
    for j in range(N_PLANES):
        w = F.array(*[F.lit(plane_weight(j, d)) for d in range(dim)])
        dot = _dot(F.col(vec_col), w)
        bit = F.when(dot >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return df.select(F.col(id_col), acc.cast("int").alias("bucket"))


def lsh_bucket_counts(df: DataFrame, **kw) -> DataFrame:
    return lsh_bucket(df, **kw).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def duck_lsh_bucket_counts(table: str = "embeddings", dim: int = 64) -> str:
    bits = []
    for j in range(N_PLANES):
        terms = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({plane_weight(j, d)!r})" for d in range(dim)
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN {2 ** j} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
WITH b AS (SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM {table})
SELECT bucket, count(*) AS n FROM b GROUP BY 1
"""


NEARDUP_PLANES = 12  # bits per hash table — expected bucket size N / 2^12
NEARDUP_TABLES = 4   # independent tables recover recall lost to more bits
DEFAULT_MAX_BUCKET = 1000


def _table_buckets(vec: Column, n_planes: int, n_tables: int, dim: int) -> Column:
    """array of ``n_tables`` bucket ids; table t uses global hyperplanes
    [t*n_planes, (t+1)*n_planes).  The weight matrix is one literal
    array-of-structs (a plan constant riding the task closure — no
    broadcast, no join).

    Single-pass K-way accumulate (the minhash_signature pattern): one
    ``F.aggregate`` walks the planes once, carrying all table sums;
    each plane's dot product evaluates exactly once because ``when``
    only evaluates the branch of the single matching table.  The
    previous per-table ``transform`` re-evaluated the whole bits pass
    per table — measured 21.0 s vs 4.9 s at 100k×64-d local[32],
    bit-identical buckets."""
    planes = F.array(
        *[
            F.struct(
                F.lit(2 ** (g % n_planes)).cast("int").alias("pw"),
                F.lit(g // n_planes).cast("int").alias("t"),
                F.array(*[F.lit(plane_weight(g, d)) for d in range(dim)]).alias("w"),
            )
            for g in range(n_tables * n_planes)
        ]
    )
    init = F.array_repeat(F.lit(0).cast("int"), n_tables)
    t_seq = F.array(*[F.lit(t).cast("int") for t in range(n_tables)])

    def merge(acc: Column, p: Column) -> Column:
        bitval = F.when(_dot(vec, p.getField("w")) >= 0, p.getField("pw")).otherwise(
            F.lit(0)
        )
        tgt = p.getField("t")
        return F.zip_with(
            acc,
            t_seq,
            lambda s, t: F.when(t == tgt, (s + bitval).cast("int")).otherwise(s),
        )

    return F.aggregate(planes, init, merge)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = NEARDUP_PLANES,
    n_tables: int = NEARDUP_TABLES,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, multi-table LSH-bucketed.

    Scale shape (mirrors minhash_lsh_pairs, dedup.py:105):
    - candidates are pairs sharing a random-hyperplane bucket in ANY of
      ``n_tables`` independent tables (``n_planes`` sign bits each —
      more bits bound bucket size, more tables recover recall; size
      n_planes ≈ log2(N / target_bucket) at the target corpus);
    - only (id, table_idx, bucket) shuffles — ONE scan, posexplode over
      the per-table bucket array;
    - **bucket cap**: a window count per (table_idx, bucket) drops
      degenerate buckets (> ``max_bucket`` members) before pair
      expansion, so a boilerplate/zero-vector pile can't produce an
      O(n²) blow-up; the groupBy after the window reuses its
      partitioning (no second Exchange);
    - pair generation is bounded per-bucket array combinatorics over
      collect_list'd ids; only the surviving candidate pairs (a tiny
      fraction of C(N,2)) join vectors back for the exact cosine.

    Cross-bucket near-dups are missed by design (the ANN recall trade).
    """
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    b = src.select(
        "id",
        F.posexplode(_table_buckets(F.col("vec"), n_planes, n_tables, dim)).alias(
            "table_idx", "bucket"
        ),
    )
    w = Window.partitionBy("table_idx", "bucket")
    capped = (
        b.withColumn("_bsize", F.count(F.lit(1)).over(w))
        .filter((F.col("_bsize") <= max_bucket) & (F.col("_bsize") > 1))
        .drop("_bsize")
    )
    ids = F.array_sort(F.collect_list("id"))
    buckets = capped.groupBy("table_idx", "bucket").agg(ids.alias("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    a = src.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
    c = src.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    return (
        pairs.join(a, "id_a")
        .join(c, "id_b")
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def _duck_cos(a: str, b: str, dim: int = 64) -> str:
    dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"({dot} / ({na} * {nb}))"


def duck_embedding_near_dup_pairs(
    threshold: float = 0.25,
    table: str = "embeddings",
    dim: int = 64,
    n_planes: int = NEARDUP_PLANES,
    n_tables: int = NEARDUP_TABLES,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    # the hyperplane weights are generated from the same integer formula
    # as plane_weight() so the SQL stays small (a literal 48×64 weight
    # matrix would be ~1 MB of SQL); both engines compute bit-identical
    # doubles from the shared integer recurrence.
    weight = (
        f"((((1 + ((t.t * {n_planes} + j) * 64 + d) * 2654435761) % {_PLANE_MOD}) "
        f"/ {_PLANE_MOD}.0) - 0.5)"
    )
    dot = (
        f"list_sum(list_transform(range(0, {dim}), "
        f"d -> {weight} * CAST(embedding[d + 1] AS DOUBLE)))"
    )
    bucket = (
        f"CAST(list_sum(list_transform(range(0, {n_planes}), "
        f"j -> CASE WHEN {dot} >= 0 THEN 1 << j ELSE 0 END)) AS INT)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding FROM {table}),
b AS (
  SELECT vec_id AS id, CAST(t.t AS INT) AS table_idx, {bucket} AS bucket
  FROM e CROSS JOIN (SELECT unnest(range(0, {n_tables})) AS t) t
),
capped AS (
  SELECT id, table_idx, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY table_idx, bucket) AS bsize FROM b
  ) WHERE bsize <= {max_bucket} AND bsize > 1
),
pairs AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM capped l JOIN capped r
    ON l.table_idx = r.table_idx AND l.bucket = r.bucket AND l.id < r.id
)
SELECT p.id_a, p.id_b, round({_duck_cos('a.embedding', 'c.embedding', dim)}, 4) AS score
FROM pairs p JOIN e a ON a.vec_id = p.id_a JOIN e c ON c.vec_id = p.id_b
WHERE round({_duck_cos('a.embedding', 'c.embedding', dim)}, 4) >= {threshold}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def ivf_centroid_rows(
    df: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Deterministic training-free centroid seeding: the first
    ``n_centroids`` vectors by id.  (A k-means refinement would slot in
    here; seeding keeps the oracle replayable.)  The collect is
    n_centroids rows — plan-time metadata, not a data motion."""
    rows = (
        # Degenerate rows cannot seed.  NULL/wrong-length embeddings
        # would produce NULL cosines against every full-size vector
        # (zip_with pads ragged pairs with NULL), and a zero-norm
        # vector has NULL cosine to EVERYTHING — and the two engines
        # order a NULL struct field oppositely (Spark greatest() sorts
        # it smallest, DuckDB max() largest), so one such seed silently
        # flips every cell assignment in the oracle.  The rule is
        # therefore: a seed must be exactly ``dim`` long with a
        # positive norm.  Mirrored in every duck_* cents CTE.
        df.filter(
            (F.col(id_col) < n_centroids)
            & F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
            & (
                F.array_max(
                    F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
                )
                > 0
            )
        )
        .select(id_col, vec_col)
        .collect()
    )
    return sorted((r[id_col], [float(x) for x in r[vec_col]]) for r in rows)


KMEANS_SCALE = 1_000_000
KMEANS_OFFSET = 1 << 22  # > KMEANS_SCALE * max|component|, keeps sums positive


def ivf_kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Fixed-iteration deterministic Lloyd refinement of the first-N-by-id
    seeds — fixes the seeding-balance weakness while keeping the oracle
    replayable (VERDICT r2 #6).

    Exact cross-engine by construction: components are quantized to
    scaled integers ``floor(x * 1e6) + OFFSET`` (offset keeps every
    value positive), per-cell per-dim sums are integer additions
    (associative — partial-aggregation order can't change them), and
    the mean is a floor division on positive integers, identical in
    Python, Spark, and DuckDB.  Assignment reuses ``ivf_assign``'s
    round-6 cosine + (score, centroid-id) lexicographic tie-break.

    Each iteration is one scan + one ``n_centroids``-row collect
    (metadata-sized); ``iters`` is a fixed small constant, so the whole
    refinement is O(iters) scans — no driver-side loop over data."""
    cents = ivf_centroid_rows(df, n_centroids, id_col, vec_col, dim)
    vint = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("bigint")
        + F.lit(KMEANS_OFFSET),
    )
    # vectors of the wrong dimensionality (NULL, empty, truncated) or
    # with zero norm are excluded from training — an ANN index rejects
    # them; ANSI's GetArrayItem would otherwise error on _vi[d] past the
    # end, and a zero-norm vector has NULL cosine to every centroid, so
    # greatest() would deterministically dump all of them into one cell
    # and bias its mean toward the origin
    base = df.filter(
        (F.size(F.col(vec_col)) >= dim)
        & (F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))) > 0)
    ).select(F.col(id_col), F.col(vec_col), vint.alias("_vi"))
    for _ in range(iters):
        assigned = ivf_assign(base, cents, id_col, vec_col)
        rows = (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("_vi")[d]).alias(f"s{d}") for d in range(dim)],
            )
            .collect()
        )
        cents = sorted(
            (
                int(r["cell"]),
                [
                    ((r[f"s{d}"] // r["n"]) - KMEANS_OFFSET) / KMEANS_SCALE
                    for d in range(dim)
                ],
            )
            for r in rows
        )
    return cents


def _cent_struct(vec: Column, cid: int, cvec: list[float]) -> Column:
    # HOF cosine stays here: greatest() over K centroid structs each
    # carrying a 3×dim unrolled chain explodes the generated code past
    # the JIT limits — measured 11 s → 35 s on the semdedup bench when
    # this site used cosine_fast; the HOF form keeps the expression
    # tree small and the assignment cost is K per row, not pair-count
    lit_vec = F.array(*[F.lit(x) for x in cvec])
    return F.struct(
        F.round(cosine(vec, lit_vec), 6).alias("s"), F.lit(cid).alias("c")
    )


def ivf_assign(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """Nearest-centroid cell per vector — ``greatest`` over literal
    centroid structs (lexicographic: score, then centroid id), zero
    joins and zero shuffles; the centroid list rides into the task
    closure like a broadcast."""
    vec = F.col(vec_col)
    best = F.greatest(*[_cent_struct(vec, cid, cvec) for cid, cvec in cents])
    return df.withColumn(out, best.getField("c"))


def ivf_cell_counts(
    df: DataFrame, n_centroids: int = 8, kmeans_iters: int = 0, dim: int = 64, **kw
) -> DataFrame:
    if kmeans_iters > 0:
        cents = ivf_kmeans_centroids(df, n_centroids, kmeans_iters, dim=dim, **kw)
    else:
        cents = ivf_centroid_rows(df, n_centroids, dim=dim, **kw)
    return (
        ivf_assign(df, cents, **kw)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    dim: int = 64,
) -> DataFrame:
    """IVF ANN: probe the query's ``n_probe`` closest cells, exact
    cosine only within them.  Corpus side is one scan (assign = pure
    column math); the query side broadcasts.  ``kmeans_iters > 0``
    refines the seed centroids with deterministic Lloyd iterations.
    ``dim`` is the vector length a centroid seed must have."""
    if kmeans_iters > 0:
        cents = ivf_kmeans_centroids(df, n_centroids, kmeans_iters, id_col, vec_col, dim)
    else:
        cents = ivf_centroid_rows(df, n_centroids, id_col, vec_col, dim)
    assigned = ivf_assign(df, cents, id_col, vec_col)
    vec = F.col(vec_col)
    ranked_cells = F.reverse(
        F.array_sort(F.array(*[_cent_struct(vec, cid, cvec) for cid, cvec in cents]))
    )
    probed = F.transform(F.slice(ranked_cells, 1, n_probe), lambda s: s.getField("c"))
    q = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            probed.alias("qcells"),
        )
    )
    c = assigned.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), F.col("cell")
    )
    scored = (
        c.join(
            F.broadcast(q),
            F.array_contains(F.col("qcells"), F.col("cell"))
            & (F.col("qid") != F.col("cid")),
        )
        .withColumn("score", F.round(cosine(F.col("qvec"), F.col("cvec")), 4))
        .select("qid", "cid", "score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def duck_ivf_topk(
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = _duck_cos("e.embedding", "c.cvec", dim)
    return f"""
WITH cents AS (SELECT vec_id AS ccid, embedding AS cvec FROM {table}
  WHERE vec_id < {n_centroids} AND embedding IS NOT NULL AND len(embedding) = {dim} AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
cos AS (SELECT e.vec_id, c.ccid, round({cos}, 6) AS s FROM {table} e CROSS JOIN cents c),
assign AS (SELECT vec_id, max({{'s': s, 'c': ccid}}) AS m FROM cos GROUP BY vec_id),
cells AS (SELECT vec_id, m.c AS cell FROM assign),
qprobe AS (
  SELECT vec_id AS qid, ccid AS cell FROM (
    SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid DESC) AS rn
    FROM cos WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT q.qid, cl.vec_id AS cid FROM qprobe q JOIN cells cl ON cl.cell = q.cell AND cl.vec_id != q.qid
),
scored AS (
  SELECT cand.qid, cand.cid,
    round({_duck_cos('eq.embedding', 'ec.embedding', dim)}, 4) AS score
  FROM cand JOIN {table} eq ON eq.vec_id = cand.qid JOIN {table} ec ON ec.vec_id = cand.cid
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS INT) AS rank
  FROM scored
)
SELECT qid, cid, score, rank FROM ranked WHERE rank <= {k}
"""


def duck_ivf_kmeans_topk(
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """Oracle for ``ivf_topk(kmeans_iters=iters)`` — the Lloyd loop
    unrolled into ``iters`` CTE rounds.  Bit-exact vs Spark because the
    centroid update is integer math (see ivf_kmeans_centroids)."""
    ids = ", ".join(str(i) for i in query_ids)
    parts = [
        f"WITH e AS (SELECT vec_id, embedding FROM {table})",
        f"""ei AS (SELECT vec_id, list_transform(embedding,
  x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT) + {KMEANS_OFFSET}) AS vi FROM e)""",
        f"c0 AS (SELECT vec_id AS ccid, embedding AS cvec FROM e WHERE vec_id < {n_centroids} AND embedding IS NOT NULL AND len(embedding) = {dim} AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0)",
    ]
    for i in range(iters):
        cos = _duck_cos("e.embedding", "c.cvec", dim)
        parts.append(
            f"cos{i} AS (SELECT e.vec_id, c.ccid, round({cos}, 6) AS s FROM e CROSS JOIN c{i} c)"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, max({{'s': s, 'c': ccid}}).c AS cell FROM cos{i} GROUP BY vec_id)"
        )
        parts.append(
            f"""c{i + 1} AS (
  SELECT cell AS ccid, list(cv ORDER BY d) AS cvec FROM (
    SELECT a.cell, dd.d AS d,
      CAST((sum(ei.vi[dd.d + 1]) // count(*)) - {KMEANS_OFFSET} AS DOUBLE) / {KMEANS_SCALE} AS cv
    FROM a{i} a JOIN ei ON ei.vec_id = a.vec_id
    CROSS JOIN (SELECT unnest(range(0, {dim})) AS d) dd
    GROUP BY 1, 2
  ) GROUP BY cell
)"""
        )
    cos = _duck_cos("e.embedding", "c.cvec", dim)
    parts.append(
        f"cosF AS (SELECT e.vec_id, c.ccid, round({cos}, 6) AS s FROM e CROSS JOIN c{iters} c)"
    )
    parts.append(
        "assign AS (SELECT vec_id, max({'s': s, 'c': ccid}).c AS cell FROM cosF GROUP BY vec_id)"
    )
    parts.append(
        f"""qprobe AS (
  SELECT vec_id AS qid, ccid AS cell FROM (
    SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid DESC) AS rn
    FROM cosF WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
)"""
    )
    parts.append(
        "cand AS (SELECT q.qid, cl.vec_id AS cid FROM qprobe q "
        "JOIN assign cl ON cl.cell = q.cell AND cl.vec_id != q.qid)"
    )
    parts.append(
        f"""scored AS (
  SELECT cand.qid, cand.cid,
    round({_duck_cos('eq.embedding', 'ec.embedding', dim)}, 4) AS score
  FROM cand JOIN {table} eq ON eq.vec_id = cand.qid JOIN {table} ec ON ec.vec_id = cand.cid
)"""
    )
    parts.append(
        """ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS INT) AS rank
  FROM scored
)"""
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT qid, cid, score, rank FROM ranked WHERE rank <= {k}"
    )


def bucketed_topk(
    df: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """ANN: search only within the query's LSH bucket (the IVF-style
    scale path; recall < 1 by design, verified against brute force in
    tests)."""
    b = lsh_bucket(df, id_col, vec_col)
    dfb = df.join(b, id_col)
    q = dfb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"), F.col("bucket").alias("qb")
    )
    c = dfb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), F.col("bucket").alias("cb"))
    scored = (
        c.join(F.broadcast(q), (F.col("qb") == F.col("cb")) & (F.col("qid") != F.col("cid")))
        .withColumn("score", F.round(cosine(F.col("qvec"), F.col("cvec")), 4))
        .select("qid", "cid", "score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via k-means cells + within-cell cosine
# ---------------------------------------------------------------------------


def semdedup(
    df: DataFrame,
    n_centroids: int = 8,
    tau: float = 0.3,
    cap: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster embeddings into cells with the
    IVF coarse quantizer, then within each cell mark every vector whose
    cosine to an EARLIER cell member (smaller id) reaches ``tau`` as a
    semantic duplicate of the smallest such member.  Keeping the
    smallest id per near-dup group is the deterministic stand-in for
    the paper's keep-the-least-central choice (any single-survivor rule
    dedups identically; this one is oracle-replayable).

    Scale shape at 10^12 docs:
    - cell assignment is PURE COLUMN MATH against literal centroids
      (``ivf_assign`` — no join, no shuffle, the centroid list rides
      the task closure); the paper's regime has K grow with N
      (K ≈ N/const, e.g. 50k cells for 134M embeddings) so cells stay
      constant-sized and the within-cell O(m²) is bounded;
    - the only shuffles are the cell-keyed window rank and the
      cell-equi-join — both key on ``cell``, so the window's exchange
      is reusable for the join;
    - the candidate side is RANK-TRUNCATED at ``cap`` members per cell
      (the simhash/minhash degenerate-bucket discipline): a pathological
      pile-up cell costs at most m·cap comparisons, never m², and the
      truncation only loses dup edges INSIDE the overflow tail;
    - only surviving pairs (score ≥ tau) reach the aggregate; the
      join-back of per-doc verdicts is an id-equi-join, unhinted (the
      decontaminate lesson: dup counts can be corpus-sized).

    Output: one row per input vector —
    (vec_id, cell, dup_of, max_sim, is_dup).
    """
    cents = ivf_centroid_rows(df, n_centroids, id_col, vec_col, dim)
    assigned = ivf_assign(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        cents,
        "id",
        "vec",
    )
    w = Window.partitionBy("cell").orderBy("id")
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    early = ranked.filter(F.col("rk") <= cap).select(
        F.col("cell").alias("bcell"),
        F.col("id").alias("bid"),
        F.col("vec").alias("bvec"),
    )
    probe = ranked
    try:
        par = ranked.sparkSession.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - session without a context
        par = 0
    if len(cents) < par:
        # the window leaves the probe side in ≤K partitions; with K
        # below the core count the pair generation+scoring (the O(m·cap)
        # hot stage) would run K-wide.  The probe side is only N rows
        # (pairs are GENERATED by the join), so one cheap id-hash
        # repartition spreads the expensive stage across all cores.  At
        # the paper's operating point K ≫ cores, so this branch is off
        # and no extra shuffle is paid.
        probe = ranked.repartition("id")
    pairs = (
        probe.join(
            early, (F.col("cell") == F.col("bcell")) & (F.col("bid") < F.col("id"))
        )
        .withColumn("s", F.round(cosine_fast(F.col("vec"), F.col("bvec"), dim), 4))
        .filter(F.col("s") >= tau)
    )
    dups = pairs.groupBy("id").agg(
        F.min("bid").alias("dup_of"), F.max("s").alias("max_sim")
    )
    return (
        assigned.select("id", "cell")
        .join(dups, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
            F.col("max_sim"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def duck_semdedup(
    n_centroids: int = 8,
    tau: float = 0.3,
    cap: int = 256,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """Oracle for ``semdedup`` — same seed centroids, same round-6
    assignment cosine + (s, c) lexicographic tie-break as
    ``duck_ivf_topk``, same rank truncation and round-4 pair cosine."""
    cos_assign = _duck_cos("e.embedding", "c.cvec", dim)
    cos_pair = _duck_cos("ea.embedding", "eb.embedding", dim)
    return f"""
WITH e AS (SELECT vec_id, embedding FROM {table}),
cents AS (
  SELECT vec_id AS ccid, embedding AS cvec FROM e
  WHERE vec_id < {n_centroids} AND embedding IS NOT NULL AND len(embedding) = {dim}
    AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
),
cos AS (SELECT e.vec_id, c.ccid,
  CASE WHEN len(e.embedding) = len(c.cvec) THEN round({cos_assign}, 6) END AS s
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, max({{'s': s, 'c': ccid}}).c AS cell FROM cos GROUP BY vec_id),
ranked AS (
  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
  FROM assign
),
pairs AS (
  SELECT a.vec_id AS id, b.vec_id AS bid,
    CASE WHEN len(ea.embedding) = len(eb.embedding)
         THEN round({cos_pair}, 4) END AS s
  FROM ranked a
  JOIN ranked b ON a.cell = b.cell AND b.vec_id < a.vec_id AND b.rk <= {cap}
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
),
dups AS (
  SELECT id, min(bid) AS dup_of, max(s) AS max_sim
  FROM pairs WHERE s >= {tau} GROUP BY id
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell, CAST(d.dup_of AS BIGINT) AS dup_of,
       d.max_sim, d.dup_of IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dups d ON d.id = a.vec_id
"""


def ivf_recall(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-quality evaluation: per-query recall@k of the IVF index
    against the exact brute-force top-k — the standard ANN acceptance
    metric (recall = |approx ∩ exact| / k).  Ships as a first-class
    query so an index build can be gated on measured recall, not hope.

    Scale shape: both arms are existing queries (broadcast query side,
    one corpus scan each); the intersection is a (qid, cid) equi-join
    between two k·|Q|-row frames — metadata-sized.  The division is
    exact IEEE int/int, identical in both engines.

    Output: (qid, n_hit, k, recall) per query id.
    """
    truth = brute_force_topk(df, query_ids, k, id_col, vec_col).select(
        "qid", "cid"
    )
    approx = ivf_topk(
        df, query_ids, k, n_centroids, n_probe, id_col, vec_col
    ).select(F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
    hits = truth.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("cid") == F.col("acid")),
        "left",
    )
    return hits.groupBy("qid").agg(
        F.count("acid").alias("n_hit"),
        F.lit(k).cast("bigint").alias("k"),
        (F.count("acid") / F.lit(k)).alias("recall"),
    )


def duck_ivf_recall(
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    bf = duck_brute_force_topk(query_ids, k, table)
    ivf = duck_ivf_topk(query_ids, k, n_centroids, n_probe, table, dim)
    return f"""
WITH t AS (SELECT qid, cid FROM ({bf})),
a AS (SELECT qid AS aqid, cid AS acid FROM ({ivf}))
SELECT t.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
  CAST({k} AS BIGINT) AS k,
  count(a.acid) / CAST({k} AS DOUBLE) AS recall
FROM t LEFT JOIN a ON t.qid = a.aqid AND t.cid = a.acid
GROUP BY t.qid
"""


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-label mean embedding (class prototypes — the building block
    of prototype classifiers, semantic-dedup seeding, and drift
    monitoring), INTEGER-EXACT cross-engine: components quantize to
    ``floor(x·10^6) + OFFSET`` (the ``ivf_kmeans_centroids`` scheme —
    offset keeps sums positive so floor division is a true mean floor),
    per-label per-dim sums are associative bigint adds, and the mean is
    one floor division.  Emitted LONG (label, d, centroid_micro) —
    array cells don't hash portably across the driver's canonicalizer.

    Scale shape: ONE map-side-combined groupBy(label) carrying dim sum
    columns (labels are few, sums combine before the exchange — a
    10^12-row label costs one reduce row); the long-format explode is a
    projection on the label-count-sized result.  Vectors that are NULL
    or not exactly ``dim`` long are excluded (a prototype of mixed
    dimensionality is meaningless), mirroring the oracle predicate.
    """
    vint = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("bigint")
        + F.lit(KMEANS_OFFSET),
    )
    base = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(F.col(label_col).alias("label"), vint.alias("_vi"))
    agg = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("_vi")[d]).alias(f"s{d}") for d in range(dim)],
    )
    means = F.array(
        *[
            (F.expr(f"s{d} DIV n") - F.lit(KMEANS_OFFSET)).cast("bigint")
            for d in range(dim)
        ]
    )
    return agg.select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.posexplode(means).alias("d", "centroid_micro"),
    )


def duck_label_centroids(table: str = "embeddings", dim: int = 64) -> str:
    return f"""
WITH ei AS (
  SELECT label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT) + {KMEANS_OFFSET}) AS vi
  FROM {table}
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
)
SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(dd.d AS INT) AS d,
  CAST((sum(vi[dd.d + 1]) // count(*)) - {KMEANS_OFFSET} AS BIGINT) AS centroid_micro
FROM ei CROSS JOIN (SELECT unnest(range(0, {dim})) AS d) dd
GROUP BY label, dd.d
"""
