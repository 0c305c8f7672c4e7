"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Queries are broadcast
  (small side), candidates streamed — no shuffle on the big side until the
  per-query top-k window. Dot products run JVM-side via F.zip_with +
  F.aggregate (whole-stage codegen, no Python).
- LSH-bucketed variant (random signed projections): the 100 TB path — each
  vector hashes to a b-bit bucket; join happens per bucket so the candidate
  set shrinks ~2^b-fold. Hyperplanes are seeded deterministically from
  md5-derived pseudo-randoms, so results are reproducible with no RNG state.
- embedding cosine near-dup: all pairs above a cosine threshold (the
  embedding flavor of dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id) for the k best ``sim`` rows per query
    of ``scored``, ties broken by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k: (query_id, rank, neighbor_id).

    Ties broken by neighbor id; self excluded. Queries broadcast.
    """
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    joined = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = _cosine(F.col("qv"), F.col("cv"))
    return _rank_topk(
        joined.select("query_id", "neighbor_id", sim.alias("sim")), k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a hash chain (no RNG)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            # map first 8 hex chars to [-1, 1)
            vals.append(int(h[:8], 16) / 0x80000000 - 1.0)
        planes.append(vals)
    return planes


def _bucket_expr(vec_col: str, dim: int, n_planes: int, seed: int):
    """Column expression: the signed-random-projection bucket id (JVM-side)."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        parr = F.array(*[F.lit(v) for v in plane])
        sign = (_dot(F.col(vec_col), parr) > 0).cast("int")
        bucket = bucket + F.shiftleft(sign, b)
    return bucket


def lsh_buckets(emb: DataFrame, dim: int, n_planes: int = 8, seed: int = 42,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Signed-random-projection bucket id per vector (JVM-side)."""
    return emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("embedding"),
                      _bucket_expr(vec_col, dim, n_planes, seed)
                      .alias("bucket"))


def lsh_ann(emb: DataFrame, dim: int, query_ids: list[int], k: int = 3,
            n_planes: int = 6, seed: int = 42) -> DataFrame:
    """Bucketed ANN: exact cosine, but only within the query's LSH bucket.

    Deterministic end to end (md5-derived hyperplanes), so the bucket
    computation has an exact SQL twin — see lsh_ann_sql. Output shape
    matches cosine_topk (query_id, rank, neighbor_id)."""
    # no cache (leak per invocation); bucket ids are cheap JVM expressions
    bucketed = lsh_buckets(emb, dim, n_planes, seed)
    q = bucketed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("cb"),
    )
    joined = F.broadcast(q).join(c, F.col("qb") == F.col("cb")).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = _cosine(F.col("qv"), F.col("cv"))
    return _rank_topk(
        joined.select("query_id", "neighbor_id", sim.alias("sim")), k)


def _plane_sql_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def lsh_bucket_sql_expr(dim: int, n_planes: int = 6, seed: int = 42,
                        vec_col: str = "embedding") -> str:
    """DuckDB expression reproducing lsh_buckets' bucket id exactly: the
    hyperplanes come from the same md5 chain, embedded as full-precision
    literals."""
    planes = _hyperplanes(dim, n_planes, seed)
    terms = [
        f"((list_dot_product({vec_col}, {_plane_sql_literal(p)}) > 0)::INT"
        f" * {1 << b})"
        for b, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def lsh_ann_sql(dim: int, query_ids: list[int], k: int = 3,
                n_planes: int = 6, seed: int = 42,
                table: str = "embeddings") -> str:
    """DuckDB oracle twin of lsh_ann: same buckets, same within-bucket
    exact-cosine top-k."""
    ids = ", ".join(str(i) for i in query_ids)
    bucket = lsh_bucket_sql_expr(dim, n_planes, seed)
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM {table}
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, c.embedding) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= {k}
"""


def lsh_recall(emb: DataFrame, dim: int, query_ids: list[int], k: int = 3,
               n_planes: int = 6, seed: int = 42) -> DataFrame:
    """Measured LSH recall vs brute force, per query: |LSH∩BF| / |BF|.
    The quality meter the approximate path ships with."""
    bf = cosine_topk(emb, query_ids, k).select("query_id", "neighbor_id")
    ls = lsh_ann(emb, dim, query_ids, k, n_planes, seed) \
        .select("query_id", "neighbor_id")
    hits = (
        bf.join(ls, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bf"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_bf"), 4)
        .alias("recall"),
    )


def lsh_recall_sql(dim: int, query_ids: list[int], k: int = 3,
                   n_planes: int = 6, seed: int = 42,
                   table: str = "embeddings") -> str:
    return f"""
WITH bf AS ({cosine_topk_sql(query_ids, k, table)}),
lsh AS ({lsh_ann_sql(dim, query_ids, k, n_planes, seed, table)}),
hits AS (
  SELECT bf.query_id, count(*) AS n_hit
  FROM bf JOIN lsh ON bf.query_id = lsh.query_id
                  AND bf.neighbor_id = lsh.neighbor_id
  GROUP BY bf.query_id
), base AS (
  SELECT query_id, count(*) AS n_bf FROM bf GROUP BY query_id
)
SELECT base.query_id,
       round(coalesce(n_hit, 0) / n_bf, 4) AS recall
FROM base LEFT JOIN hits USING (query_id)
"""


def cosine_near_dup_candidates(emb: DataFrame, dim: int, n_planes: int = 4,
                               n_seeds: int = 6, base_seed: int = 101,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """LSH candidate pairs for cosine near-dup. Multiple independent plane
    seeds recover the recall a single b-bit bucketing loses (miss prob ≈
    (1 - p^b)^seeds with p = 1 - acos(sim)/π).

    Scale shape: ONE projection computes an array of (seed, bucket)
    structs per vector, explode fans each vector out to n_seeds rows, and
    a single self-join on (seed, bucket) yields every per-seed bucket
    collision. The keyed rows carry ONLY (vec_id, seed, bucket) — the
    embedding is read to compute the bucket and immediately dropped, so
    the (seed, bucket) shuffle and the pair-dedup shuffle move 16-byte id
    rows, not vector payloads (at dim=64 float that is a ~30x shuffle-
    volume cut; the r5 sf1 measurement of the payload-carrying shape was
    490 s vs ~20 s for this one). Vectors re-attach AFTER the dedup via
    two id-equi-joins against the pruned (id, vec) projection — vector
    bytes cross the wire O(n), never O(candidate pairs). The shuffle key
    is (seed, bucket) — cardinality n_seeds × 2^n_planes — so no
    cartesian anywhere."""
    sb = F.array(*[
        F.struct(
            F.lit(s).alias("seed"),
            _bucket_expr(vec_col, dim, n_planes, base_seed + s)
            .alias("bucket"),
        )
        for s in range(n_seeds)
    ])
    keyed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.explode(sb).alias("sb"),
    ).select("vec_id",
             F.col("sb.seed").alias("seed"),
             F.col("sb.bucket").alias("bucket"))
    a = keyed.select(F.col("vec_id").alias("id_a"), "seed", "bucket")
    c = keyed.select(F.col("vec_id").alias("id_b"), "seed", "bucket")
    pairs = (a.join(c, ["seed", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b", "va", "vb"))


def auto_lsh_params(n_rows: int, recall_sim: float, delta: float = 1e-3,
                    target_bucket: int = 128, min_planes: int = 4,
                    max_planes: int = 24, max_seeds: int = 96
                    ) -> tuple[int, int]:
    """(n_planes, n_seeds) scaled to the corpus size — the 100 TB knob.

    Fixed (b, s) makes per-seed bucket collisions grow O(n²/2^b): the
    bucket-count must track n or the candidate set degenerates toward
    all-pairs (measured: the sf0.01-tuned default (4, 6) produced 64M
    candidate pairs from 20k vectors at sf1 — 32% of ALL pairs).

    - b = clamp(ceil(log2(n / target_bucket)), min_planes, max_planes):
      expected per-seed collisions stay ~n × target_bucket / 2.
    - s = ceil(ln(1/δ) / -ln(1 - p^b)) with p = 1 - acos(recall_sim)/π:
      a pair at similarity recall_sim is missed by all seeds with
      probability ≤ δ. Pairs above recall_sim are recalled strictly more
      often (p rises with sim); pairs between the verify threshold and
      recall_sim ride the standard LSH S-curve — callers needing hard
      guarantees at the threshold pass recall_sim=threshold and pay the
      larger s.

    Total candidate work ≈ n^(1+ρ) with ρ = ln(1/p)/ln 2 — subquadratic
    for any recall_sim > 0 — vs the fixed-parameter O(n²). The caps cover
    n ≈ 2×10⁹ (b=24 needs s≈86 at recall_sim 0.95); beyond that, shard
    the corpus first (e.g. by an IVF coarse quantizer as in ann_ivf) and
    run per-shard, or raise both caps together — s must track b or the
    δ-recall bound silently degrades."""
    import math

    b = math.ceil(math.log2(max(n_rows, 2) / target_bucket))
    b = min(max(b, min_planes), max_planes)
    p = 1.0 - math.acos(max(min(recall_sim, 1.0), -1.0)) / math.pi
    pb = p ** b
    if pb >= 1.0:
        s = 1
    else:
        s = math.ceil(math.log(delta) / math.log(1.0 - pb))
    return b, min(max(s, 1), max_seeds)


def cosine_near_dups(emb: DataFrame, threshold: float = 0.95,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int | None = None, n_planes: int = 4,
                     n_seeds: int = 6, auto_from: int | None = None,
                     recall_sim: float | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold, a<b).

    With dim set (the scale path): LSH-bucketed candidate generation +
    exact cosine verify — no cartesian product anywhere in the plan. With
    dim=None: exact all-pairs crossJoin, kept ONLY as the small-corpus
    oracle twin / recall baseline.

    auto_from: corpus row count — overrides (n_planes, n_seeds) with
    auto_lsh_params(auto_from, recall_sim or threshold) so bucket count
    scales with n (see that docstring); recall_sim relaxes the recall
    guarantee point above the verify threshold when the caller knows the
    similarity distribution is bimodal (near-dups sit near 1.0)."""
    if dim is not None:
        if auto_from is not None:
            n_planes, n_seeds = auto_lsh_params(
                auto_from, threshold if recall_sim is None else recall_sim)
        joined = cosine_near_dup_candidates(
            emb, dim, n_planes, n_seeds, id_col=id_col, vec_col=vec_col)
    else:
        # The broadcast-nested-loop join's parallelism equals the STREAM
        # side's partition count; a small test corpus often arrives as one
        # parquet partition, which would run the O(n^2) scan on one core.
        par = emb.sparkSession.sparkContext.defaultParallelism
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")) \
            .repartition(par)
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = _cosine(F.col("va"), F.col("vb"))
    return (
        joined.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def cosine_topk_sql(query_ids: list[int], k: int = 3,
                    table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, c.embedding) AS sim
  FROM {table} q JOIN {table} c ON q.vec_id != c.vec_id
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= {k}
"""


# -- IVF (inverted-file) ANN -------------------------------------------------

def ivf_train_centroids(emb: DataFrame, n_centroids: int = 8, iters: int = 3,
                        id_col: str = "vec_id", vec_col: str = "embedding"
                        ) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column.

    Init = the n vectors with smallest xxhash64(id) (seeded, no RNG); each
    iteration is one Spark job (assign JVM-side, per-dimension means via
    posexplode groupBy). Centroids are tiny (n x dim) and live on the
    driver / in broadcasts — the scale path: assignment scans are
    embarrassingly parallel, the mean-reduce shuffles n_centroids x dim
    cells regardless of corpus size.
    """
    init_rows = (
        emb.orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(n_centroids).select(vec_col).collect()
    )
    centroids = [list(r[0]) for r in init_rows]
    for _ in range(iters):
        assigned = ivf_assign(emb, centroids, id_col, vec_col)
        means = (
            assigned.select("centroid", F.posexplode(vec_col))
            .groupBy("centroid", "pos").agg(F.avg("col").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        by_c: dict = {}
        for r in means:
            by_c.setdefault(r["centroid"], {})[r["pos"]] = r["m"]
        for cid, dims in by_c.items():
            new[cid] = [dims[i] for i in range(len(dims))]
        centroids = new
    return centroids


def _centroid_sims(v, centroids: list[list[float]]):
    """array<struct<s: cosine(v, centroid i), i>> over the centroids."""
    return F.array(*[
        F.struct(_cosine(v, F.array(*[F.lit(x) for x in c])).alias("s"),
                 F.lit(i).alias("i"))
        for i, c in enumerate(centroids)
    ])


def ivf_assign(emb: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Nearest-centroid (by cosine) id per vector — pure JVM expressions:
    argmax via array_max over (sim, idx) structs."""
    v = F.col(vec_col)
    best = F.array_max(_centroid_sims(v, centroids))["i"]
    return emb.select(F.col(id_col).alias("vec_id"),
                      v.alias(vec_col),
                      best.alias("centroid"))


def ivf_ann(emb: DataFrame, query_ids: list[int], k: int = 3,
            n_centroids: int = 8, nprobe: int = 2, iters: int = 3,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF ANN: coarse quantizer buckets + exact cosine within the query's
    nprobe nearest buckets. nprobe == n_centroids degenerates to exact
    brute force (the oracle-checked configuration)."""
    centroids = ivf_train_centroids(emb, n_centroids, iters, id_col, vec_col)
    # no cache: assignment is cheap JVM expressions over broadcast centroids,
    # and a cache here would leak storage memory per invocation (the caller
    # can't unpersist a lazily-returned DataFrame's lineage)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)

    # per-query probe list: top-nprobe centroids by cosine
    v = F.col(vec_col)
    probes = F.slice(
        F.reverse(F.array_sort(_centroid_sims(v, centroids))), 1, nprobe)
    q = (
        assigned.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"),
                v.alias("qv"),
                F.explode(F.transform(probes, lambda p: p["i"]))
                .alias("probe"))
    )
    c = assigned.select(F.col("vec_id").alias("neighbor_id"),
                        F.col(vec_col).alias("cv"),
                        F.col("centroid").alias("cb"))
    joined = F.broadcast(q).join(c, F.col("probe") == F.col("cb")).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = _cosine(F.col("qv"), F.col("cv"))
    scored = joined.select("query_id", "neighbor_id", sim.alias("sim")) \
        .dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, k)
