"""Deduplication operators: exact, n-gram Jaccard similarity join,
MinHash+LSH, SimHash-banded — the training-data pipeline's near-dup suite.

Scale notes (the point of each design):

- exact_dedup: hash-groupBy on a fingerprint column — one shuffle keyed by
  md5(text); AQE coalesces post-shuffle partitions. At 100 TB, group on the
  digest (fixed 32 bytes), never the raw text.
- jaccard_pairs: inverted-index join on shingles (explode -> self-join on
  shingle -> count per pair -> |A∩B| / (|A|+|B|-|A∩B|)). Avoids the O(n²)
  cross join; hot shingles are the skew risk, so shingles above a document-
  frequency cap are dropped (standard df-cut) before the join.
- minhash_lsh: k salted hashes per shingle, banded into b buckets;
  candidate pairs only join within a bucket. This is the 100 TB path — the
  shuffle key is (band, bucket-hash), cardinality controlled by b. One
  plan, two hash families via ``hash=``: xxhash64 (JVM-native, the
  production default) and md5 (60-bit, reproducible in DuckDB — the
  oracle-checked family). Only the per-shingle hash differs.
- simhash_near_dups: the same banded self-join (_band_pairs) over 15-bit
  fingerprint chunks, verified by hamming distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _hashed


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One canonical (min id) row per distinct text; exact duplicates counted."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("digest", "canonical_id", "n_dups")
    )


def _word_grams(words_col, n: int):
    """Word n-gram array built from an ATTRIBUTE column, never an inline
    split(...): an expression referenced inside a higher-order lambda is
    re-evaluated per element, so slice(split(text), ...) inside transform
    makes gram construction O(L²) in document length. Callers must project
    the split into a real column first (see shingles/passages)."""
    k = F.size(words_col) - (n - 1)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(words_col, i + 1, n), " "),
    )


def _raw_shingles(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct raw word n-gram shingles per document (not hashed)."""
    wdf = df.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_w"))
    sh = _word_grams(F.col("_w"), n)
    return wdf.select(
        "doc_id",
        F.explode(F.array_distinct(sh)).alias("shingle"),
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document (md5-hashed)."""
    return _raw_shingles(df, n, text_col, id_col) \
        .select("doc_id", F.md5("shingle").alias("shingle"))


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                  df_cut: int | None = 1000) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard via inverted-index join.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    df_cut (ON by default): shingles shared by more than df_cut documents
    are dropped — one hot shingle otherwise contributes O(df²) candidate
    rows, the classic skew-killer on a web corpus. Size it at roughly 0.1%
    of corpus doc count; report what was dropped with jaccard_hot_shingles.
    Note the cut makes the jaccard estimate slightly conservative for pairs
    sharing hot shingles — the trade every production near-dup pipeline
    makes. Doc sizes are computed BEFORE the cut (the denominator stays the
    true shingle count); the SQL oracle twin (jaccard_pairs_sql) mirrors
    both the cut and the pre-cut size semantics.

    Plan shape (cache-free by construction — nothing to leak, nothing that
    must fit executor storage at 100 TB): the df-cut runs as a cheap
    count(1)-per-shingle pass (map-side combined: (16-byte digest, long)
    pairs) whose HOT survivors — a tiny, zipf-tail set — anti-join the
    shingle stream BEFORE any posting list is built, so a df=10⁹ stop-word
    shingle never materializes a 10⁹-element aggregation buffer. AQE turns
    the anti-join into a broadcast when the hot set is small (the normal
    case). The inverted index is then ONE groupBy(shingle) with a sorted
    posting list, and candidate pairs come from exploding the i<j
    combinations of each posting list — the same df² candidate volume a
    self-join would shuffle, minus the second scan and the join hash table.
    """
    sh = shingles(df, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if df_cut:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cut)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    posting = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs"))
    nd = F.size("docs")
    pairs = F.flatten(
        F.transform(
            "docs",
            lambda a, i: F.transform(
                F.slice("docs", i + 2, nd - i - 1),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    inter = (
        posting.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def passages(df: DataFrame, size: int = 8, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Non-overlapping word chunks ("passages") per document, with their
    in-doc index and md5 — the unit of CCNet-style cross-corpus passage
    dedup. One row per passage (exploded)."""
    wdf = df.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_w"))
    chunks = _passage_chunks(F.col("_w"), size)
    return wdf.select(
        "doc_id",
        F.posexplode(chunks).alias("passage_idx", "passage"),
    ).select("doc_id", "passage_idx", F.md5("passage").alias("passage_md5"))


def _passage_chunks(words_col, size: int):
    """Non-overlapping chunk array from an ATTRIBUTE column (see
    _word_grams for why an inline split here would be O(L²))."""
    k = F.ceil(F.size(words_col) / size).cast("int")
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(F.slice(words_col, i * size + 1, size), " "),
    )


def passage_dedup(df: DataFrame, size: int = 8, max_df: int = 1,
                  text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """CCNet-style cross-corpus passage dedup: passages appearing in more
    than max_df documents are dropped from every document; the survivors
    are re-joined in order.

    Returns (doc_id, n_passages, n_removed, clean_text).

    Scale shape: ONE groupBy on the 16-byte passage md5 with map-side
    partial aggregation finds the corpus-wide duplicate set (volume ∝
    distinct passages); the duplicate list joins back per-passage and a
    groupBy(doc_id) with sort_array re-assembles documents. All keys are
    fixed-width hashes; at 10^12 docs the duplicate side is the natural
    broadcast candidate once filtered to df > max_df.
    """
    p = passages(df, size, text_col, id_col)
    dup = (
        p.groupBy("passage_md5")
        .agg(F.count_distinct("doc_id").alias("pdf"))
        .filter(F.col("pdf") > max_df)
        .select("passage_md5")
    )
    flagged = p.join(F.broadcast(dup.withColumn("is_dup", F.lit(True))),
                     "passage_md5", "left")
    texts = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    ).select("doc_id", _passage_chunks(F.col("_w"), size).alias("chunks"))
    agg = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_passages"),
            F.sum(F.col("is_dup").cast("int")).alias("dup_cnt"),
            F.sort_array(
                F.collect_list(
                    F.when(~F.coalesce(F.col("is_dup"), F.lit(False)),
                           F.struct("passage_idx"))
                )
            ).alias("keep_idx"),
        )
    )
    return (
        agg.join(texts, "doc_id")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce(F.col("dup_cnt"), F.lit(0)).cast("int")
            .alias("n_removed"),
            F.array_join(
                F.transform(F.col("keep_idx"),
                            lambda s: F.col("chunks")[s["passage_idx"]]),
                " ",
            ).alias("clean_text"),
        )
    )


def passage_dedup_sql(table: str = "documents", size: int = 8,
                      max_df: int = 1) -> str:
    """DuckDB oracle twin of passage_dedup."""
    return f"""
WITH p AS (
  SELECT doc_id, i - 1 AS passage_idx,
         md5(array_to_string(list_slice(string_split(text, ' '),
             (i - 1) * {size} + 1, i * {size}), ' ')) AS passage_md5,
         array_to_string(list_slice(string_split(text, ' '),
             (i - 1) * {size} + 1, i * {size}), ' ') AS passage
  FROM {table},
       unnest(generate_series(1,
         cast(ceil(len(string_split(text, ' ')) / {size}.0) AS BIGINT))) AS t(i)
), dup AS (
  SELECT passage_md5 FROM p GROUP BY passage_md5
  HAVING count(DISTINCT doc_id) > {max_df}
)
SELECT p.doc_id,
       CAST(count(*) AS INT) AS n_passages,
       CAST(sum(CASE WHEN d.passage_md5 IS NOT NULL THEN 1 ELSE 0 END)
            AS INT) AS n_removed,
       coalesce(array_to_string(
         list_transform(
           list_sort(list([lpad(p.passage_idx::VARCHAR, 6, '0'), p.passage])
                     FILTER (WHERE d.passage_md5 IS NULL)),
           x -> x[2]),
         ' '), '') AS clean_text
FROM p LEFT JOIN dup d USING (passage_md5)
GROUP BY p.doc_id
"""


def jaccard_hot_shingles(df: DataFrame, n: int = 3,
                         df_cut: int = 1000) -> DataFrame:
    """(shingle, df) rows the df-cut drops — the skew report a pipeline
    logs/persists alongside jaccard_pairs output ("no silent caps")."""
    return (
        shingles(df, n)
        .groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cut)
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 32, n: int = 3,
                       hash: str = "xxhash64") -> DataFrame:
    """(doc_id, signature): k minhash values per doc, hash i being the
    ``hash`` family ("xxhash64" or "md5", as in sampling.corpus_split)
    salted with "s{i}:" over each raw shingle."""
    mins = [F.min(_hashed(F.col("shingle"), f"s{i}:", hash))
            for i in range(num_hashes)]
    return _raw_shingles(df, n).groupBy("doc_id").agg(
        F.array(*mins).alias("signature"))


def _band_pairs(df: DataFrame, keys: list, carry: str) -> DataFrame:
    """Banded self-join: explode one (band, key) row per entry of ``keys``,
    join rows sharing a (band, key) with a.doc_id < b.doc_id, and keep each
    (doc_a, doc_b) once, with ``carry`` from each side as
    ``{carry}_a``/``{carry}_b``."""
    bands = F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key"))
                      for b, k in enumerate(keys)])
    banded = df.select("doc_id", carry, F.explode(bands).alias("bb")) \
        .select("doc_id", carry, "bb.band", "bb.key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"a.{carry}").alias(f"{carry}_a"),
            F.col(f"b.{carry}").alias(f"{carry}_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 32, bands: int = 8,
                      n: int = 3, threshold: float | None = None,
                      hash: str = "xxhash64") -> DataFrame:
    """Banded MinHash-LSH candidate pairs: (doc_a, doc_b, est_jaccard)
    with doc_a < doc_b.

    Each band's bucket key is xxhash64 of its comma-joined signature
    values (8 bytes, whatever the family; the DuckDB twin
    minhash_lsh_pairs_md5_sql joins on the exact string, the same candidate
    set barring a 64-bit collision). est_jaccard is the fraction of equal
    signature positions, rounded to 4; threshold, if set, filters on it.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, n, hash)
    keys = [
        F.xxhash64(F.concat_ws(",", *[
            F.col("signature")[b * rows + r].cast("string")
            for r in range(rows)]))
        for b in range(bands)
    ]
    agree = F.size(F.filter(
        F.zip_with("signature_a", "signature_b", lambda x, y: x == y),
        lambda eq: eq))
    est = _band_pairs(sig, keys, "signature").select(
        "doc_a", "doc_b",
        F.round(agree / F.lit(num_hashes), 4).alias("est_jaccard"))
    if threshold is not None:
        est = est.filter(F.col("est_jaccard") >= threshold)
    return est


def simhash_near_dups(simhash_df: DataFrame, band_bits: int = 15,
                      total_bits: int = 60, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band fingerprint into total/band chunks
    (pigeonhole: hamming<=k pairs share >=1 of k+1 bands), join per band,
    verify hamming distance."""
    chunks = [
        F.shiftright(F.col("simhash"), b * band_bits)
        .bitwiseAND(F.lit((1 << band_bits) - 1))
        for b in range(total_bits // band_bits)
    ]
    hamming = F.expr(
        f"size(filter(transform(sequence(0, {total_bits - 1}), "
        "i -> (shiftright(simhash_a ^ simhash_b, i) & 1) = 1), x -> x))"
    )
    return (
        _band_pairs(simhash_df, chunks, "simhash")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  threshold: float = 0.05,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  bench_id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    n-grams overlap an evaluation set's n-grams (the standard 13-gram
    overlap filter used to keep eval benchmarks out of training corpora).

    Returns (doc_id, n_shingles, n_contaminated, contamination, flagged)
    — one row per training doc; ``contamination`` is the fraction of the
    doc's DISTINCT n-grams that appear anywhere in the benchmark set,
    ``flagged`` is contamination >= threshold.

    Scale shape: eval benchmarks are tiny next to a training corpus
    (thousands of prompts vs 10^12 docs), so the benchmark's distinct
    n-gram set is built once and BROADCAST; the doc shingle stream is
    scanned ONCE (left join against the broadcast set carries a hit
    marker) and the per-doc aggregate partial-aggregates map-side. No
    shuffle touches the benchmark side; the only Exchange is the
    groupBy(doc_id), whose input is one row per distinct doc shingle.
    """
    doc_sh = shingles(docs, n, text_col, id_col)
    bench_sh = (
        shingles(benchmark, n, bench_text_col, bench_id_col)
        .select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    ratio = F.col("n_contaminated") / F.col("n_shingles")
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("int")
            .alias("n_contaminated"),
        )
        .select(
            "doc_id", "n_shingles", "n_contaminated",
            F.round(ratio, 4).alias("contamination"),
            (ratio >= threshold).alias("flagged"),
        )
    )


def _shingles_sql(n: int) -> str:
    """DuckDB list of a row's distinct raw word n-grams (the SQL form of
    _raw_shingles)."""
    return f"""list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text,' ')) - {n - 1}, 1)),
           i -> array_to_string(list_slice(string_split(text,' '), i, i + {n - 1}), ' ')
         ))"""


def decontaminate_sql(table: str = "documents", bench_filter: str = "",
                      n: int = 13, threshold: float = 0.05) -> str:
    """DuckDB oracle twin of decontaminate; ``bench_filter`` is a WHERE
    predicate selecting the benchmark rows out of the same table."""
    grams = _shingles_sql(n)
    return f"""
WITH doc_sh AS (
  SELECT doc_id, unnest({grams}) AS shingle FROM {table}
),
bench AS (
  SELECT DISTINCT unnest({grams}) AS shingle
  FROM {table} WHERE {bench_filter or 'TRUE'}
),
agg AS (
  SELECT d.doc_id,
         count(*) AS n_shingles,
         count(b.shingle) AS n_contaminated
  FROM doc_sh d LEFT JOIN bench b ON d.shingle = b.shingle
  GROUP BY d.doc_id
)
SELECT doc_id, n_shingles::INT AS n_shingles,
       n_contaminated::INT AS n_contaminated,
       round(n_contaminated::DOUBLE / n_shingles, 4) AS contamination,
       n_contaminated::DOUBLE / n_shingles >= {threshold} AS flagged
FROM agg
"""


def exact_dedup_sql(table: str = "documents") -> str:
    return f"""
SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM {table} GROUP BY md5(text)
"""


def jaccard_pairs_sql(table: str = "documents", n: int = 3,
                      threshold: float = 0.5,
                      df_cut: int | None = 1000) -> str:
    """DuckDB oracle twin of jaccard_pairs: pairwise exact Jaccard over
    distinct shingles, mirroring the Spark path's semantics exactly —
    the df-cut drops shingles with document frequency > df_cut from the
    INTERSECTION while denominators keep the full (pre-cut) shingle
    counts. df_cut=None keeps every shingle."""
    cut = "" if df_cut is None else f"""WHERE ex.shingle NOT IN (
    SELECT shingle FROM ex GROUP BY shingle HAVING count(*) > {df_cut})"""
    return f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql(n)} AS shingles
  FROM {table}
),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
kept AS (
  SELECT ex.doc_id, ex.shingle
  FROM ex
  {cut}
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.n_common::DOUBLE / (sa.sz + sb.sz - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common::DOUBLE / (sa.sz + sb.sz - i.n_common) >= {threshold}
"""


def minhash_lsh_pairs_md5_sql(table: str = "documents", num_hashes: int = 8,
                              bands: int = 4, n: int = 3,
                              threshold: float | None = None) -> str:
    """DuckDB oracle twin of minhash_lsh_pairs(hash="md5"): same banding,
    same agreement estimate; the bucket key is the exact band string."""
    rows = num_hashes // bands
    band_cases = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" || ',' || ".join(
                f"h{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    eq = " + ".join(f"(sa.h{s} = sb.h{s})::INT" for s in range(num_hashes))
    thr = (f"WHERE round(({eq}) / {float(num_hashes)}, 4) >= {threshold}"
           if threshold is not None else "")
    return f"""
WITH sig AS ({minhash_signatures_md5_sql(table, num_hashes, n)}),
banded AS (
  SELECT doc_id, CASE b.band {band_cases} END AS bucket, b.band
  FROM sig, (SELECT unnest(generate_series(0, {bands - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(({eq}) / {float(num_hashes)}, 4) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
{thr}
"""


def minhash_signatures_md5_sql(table: str = "documents", num_hashes: int = 8,
                               n: int = 3) -> str:
    cols = ", ".join(
        f"min(('0x' || substr(md5('s{s}:' || shingle), 1, 15))::BIGINT) AS h{s}"
        for s in range(num_hashes)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingles_sql(n)}) AS shingle
  FROM {table}
)
SELECT doc_id, {cols} FROM sh GROUP BY doc_id
"""


def near_dup_clusters(df: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id",
                      max_iters: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    gets (doc_id, cluster_id, is_canonical) where cluster_id is the MIN
    doc id reachable through pairs and the canonical row is the one a
    dedup pipeline keeps. Singletons are their own cluster.

    Scale shape: iterative min-label propagation — per iteration ONE
    shuffle join (labels onto edge sources), one min-aggregate per target,
    and one label merge, all keyed on fixed-width doc ids. Near-dup
    components are shallow (LSH-verified duplicate sets are clique-like),
    so convergence takes ~graph-diameter iterations; each round's labels
    are checkpointed to truncate the iterative lineage (the classic
    iterative-DataFrame OOM/stack trap), and the driver runs only a 1-row
    existence check per round, never collecting data. max_iters bounds the
    worst case (a path graph); the loop exits as soon as labels are stable.

    Checkpoint durability: when a checkpoint dir is configured
    (spark.sparkContext.setCheckpointDir, e.g. an HDFS/S3 path on a real
    cluster), rounds use reliable DataFrame.checkpoint() — surviving
    executor loss, which matters for a long iterative job at cluster
    scale. Locally (no dir set) it falls back to localCheckpoint(), which
    stores blocks on executors: cheaper, but a lost executor aborts the
    job since the truncated lineage cannot be recomputed.
    """
    sc = df.sparkSession.sparkContext
    reliable = sc._jsc.sc().getCheckpointDir().isDefined()

    def _ckpt(frame: DataFrame, eager: bool = True) -> DataFrame:
        if reliable:
            return frame.checkpoint(eager=eager)
        return frame.localCheckpoint(eager=eager)

    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = _ckpt(e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct(), eager=False)
    labels = _ckpt(ids.withColumn("cluster_id", F.col("doc_id")))
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["a"] == labels["doc_id"])
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        merged = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        merged = _ckpt(merged)
        changed = (
            merged.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = merged
        if changed == 0:
            break
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def near_dup_clusters_sql(pairs_sql: str, table: str = "documents") -> str:
    """DuckDB oracle twin: transitive closure via recursive CTE, min
    reachable id per doc; singletons map to themselves."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id,
       d.doc_id = least(d.doc_id, coalesce(min(r.b), d.doc_id))
         AS is_canonical
FROM {table} d LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id
"""
