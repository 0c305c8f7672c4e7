"""Training-data text-analysis operators over the documents table.

All pure built-in pyspark.sql.functions (JVM-side, whole-stage codegen) —
no Python UDFs anywhere: language-ID, quality scoring, token counting,
fingerprinting. Each has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# small deterministic stopword sets per language (public common words)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"],
}
LANG_ORDER = ["en", "es", "de", "fr"]


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count + distinct tokens (exact, JVM-side)."""
    w = _words()
    return df.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-overlap language ID with deterministic tie-break (en>es>de>fr)."""
    w = _words()
    scores = {
        lang: F.size(
            F.array_intersect(F.array_distinct(w),
                              F.array(*[F.lit(s) for s in STOPWORDS[lang]]))
        )
        for lang in LANG_ORDER
    }
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    cols = [scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER]
    return df.select("doc_id", *cols, pred.alias("pred_lang"))


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality metrics: lengths, mean token length, stopword ratio."""
    w = _words()
    n_tokens = F.size(w)
    n_chars = F.length("text")
    stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop, x)))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round((n_chars - n_tokens + 1) / n_tokens, 4).alias("mean_token_len"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        (n_stop > 0).alias("has_stopwords"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def simhash(df: DataFrame, bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per-token 60-bit hash from md5 hex (portable to
    any SQL engine), sign-aggregated per bit position.

    Plan shape: ONE narrow projection — the bit-vote accumulation folds over
    the token array with a higher-order `aggregate` (votes array of length
    `bits` per row), then packs sign bits, entirely inside whole-stage
    codegen. No explode, no shuffle, no row amplification: the earlier
    tokens × bits explode version cost two exchanges and a 60× blowup; this
    is per-row arithmetic that scales embarrassingly at 100 TB.
    """
    # 60-bit hash: first 15 hex chars of md5 (fits signed 64-bit)
    votes = f"""
      aggregate(
        transform(split(text, ' '),
                  t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
        array_repeat(cast(0 AS BIGINT), {bits}),
        (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                             (a, bit) -> a + IF((shiftright(h, bit) & 1) = 1,
                                                1, -1))
      )
    """
    packed = f"""
      aggregate(
        zip_with({votes}, sequence(0, {bits - 1}),
                 (s, bit) -> IF(s > 0, shiftleft(cast(1 AS BIGINT), bit),
                                cast(0 AS BIGINT))),
        cast(0 AS BIGINT), (a, b) -> a + b)
    """
    return df.select("doc_id", F.expr(packed).alias("simhash"))


def lang_id_sql(table: str = "documents") -> str:
    """DuckDB oracle twin of lang_id()."""
    score_exprs = []
    for lang in LANG_ORDER:
        lst = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
        score_exprs.append(
            f"len(list_intersect(list_distinct(string_split(text, ' ')), [{lst}]))"
            f" AS score_{lang}"
        )
    case = "CASE "
    for lang in LANG_ORDER:
        case += f"WHEN score_{lang} = best THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH scored AS (
  SELECT doc_id, {', '.join(score_exprs)} FROM {table}
), best AS (
  SELECT *, greatest(score_en, score_es, score_de, score_fr) AS best FROM scored
)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE WHEN best = 0 THEN 'und' ELSE {case} END AS pred_lang
FROM best
"""


def quality_score_sql(table: str = "documents") -> str:
    lst = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    return f"""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       round((length(text) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')), 4) AS mean_token_len,
       round(len(list_filter(string_split(text, ' '), w -> list_contains([{lst}], w)))
             / len(string_split(text, ' ')), 4) AS stopword_ratio,
       len(list_filter(string_split(text, ' '), w -> list_contains([{lst}], w))) > 0
         AS has_stopwords
FROM {table}
"""


def simhash_sql(table: str = "documents", bits: int = 60) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {table}
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words
), bit_votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, {bits - 1})) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM bit_votes GROUP BY doc_id
"""


def gopher_quality(df: DataFrame,
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   min_alpha_word_ratio: float = 0.8) -> DataFrame:
    """Gopher-style document quality flags (the rule family from the
    published Gopher/MassiveText filtering recipe): word-count bounds,
    mean-word-length bounds, symbol-to-word ratio (# and ... stand-ins),
    fraction of words containing an alphabetic char. Pure JVM expressions —
    per-row, no shuffle, the cheapest pre-filter in a training pipeline."""
    w = _words()
    n_words = F.size(w)
    mean_len = (F.aggregate(w, F.lit(0).cast("long"),
                            lambda a, x: a + F.length(x))
                / n_words)
    n_sym = (F.length("text")
             - F.length(F.regexp_replace(F.col("text"), "[#…]", "")))
    alpha_ratio = (F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]")))
                   / n_words)
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean = ((mean_len >= min_mean_word_len)
               & (mean_len <= max_mean_word_len))
    ok_sym = (n_sym / n_words) <= max_symbol_ratio
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        (ok_words & ok_mean & ok_sym & ok_alpha).alias("keep"),
    )


def gopher_quality_sql(table: str = "documents",
                       min_words: int = 50, max_words: int = 100_000,
                       min_mean_word_len: float = 3.0,
                       max_mean_word_len: float = 10.0,
                       max_symbol_ratio: float = 0.1,
                       min_alpha_word_ratio: float = 0.8) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n_words
  FROM {table}
), m AS (
  SELECT doc_id, n_words,
         list_sum(list_transform(ws, x -> length(x)))::DOUBLE / n_words
           AS mean_len,
         (length(text) - length(regexp_replace(text, '[#…]', '', 'g')))::DOUBLE
           / n_words AS sym_ratio,
         len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
           / n_words AS alpha_ratio
  FROM w
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       round(mean_len, 4) AS mean_word_len,
       round(alpha_ratio, 4) AS alpha_word_ratio,
       n_words >= {min_words} AND n_words <= {max_words} AS ok_word_count,
       mean_len >= {min_mean_word_len} AND mean_len <= {max_mean_word_len}
         AS ok_mean_word_len,
       sym_ratio <= {max_symbol_ratio} AS ok_symbol_ratio,
       alpha_ratio >= {min_alpha_word_ratio} AS ok_alpha_words,
       (n_words >= {min_words} AND n_words <= {max_words})
         AND (mean_len >= {min_mean_word_len}
              AND mean_len <= {max_mean_word_len})
         AND sym_ratio <= {max_symbol_ratio}
         AND alpha_ratio >= {min_alpha_word_ratio} AS keep
FROM m
"""


def repetition(df: DataFrame, n: int = 2) -> DataFrame:
    """Within-document repetition metrics (Gopher repetition rules family):
    fraction of duplicate word n-grams, and the fraction of words covered
    by the single most frequent n-gram. Computed per-row with higher-order
    array expressions — no explode, no shuffle (same scale posture as
    simhash): the n-gram counts fold inside one projection. The words
    array is projected to a real column first: an inline split referenced
    inside the transform lambda re-evaluates per element (O(L²) per row on
    long documents)."""
    df = df.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    w = F.col("_w")
    k = F.size(w) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    # occurrences of the most frequent gram: sort the grams and fold the
    # longest equal run — O(L log L) per row (a 100k-word document is fine
    # in one task), still no shuffle. The run counter starts at 0 so the
    # empty-string init sentinel cannot inflate the first element's run.
    top_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
             .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.select(
        "doc_id",
        n_grams.alias("n_ngrams"),
        F.round((n_grams - n_distinct) / n_grams, 4).alias("dup_ngram_frac"),
        F.round(top_count / n_grams, 4).alias("top_ngram_frac"),
    )


def repetition_sql(table: str = "documents", n: int = 2) -> str:
    return f"""
WITH g AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(string_split(text,' ')) - {n - 1}, 1)),
           i -> array_to_string(list_slice(string_split(text,' '), i, i + {n - 1}), ' ')
         ) AS grams
  FROM {table}
)
SELECT doc_id,
       CAST(len(grams) AS INT) AS n_ngrams,
       round((len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams), 4)
         AS dup_ngram_frac,
       round(list_max(list_transform(list_distinct(grams),
               d -> len(list_filter(grams, x -> x = d))))::DOUBLE
             / len(grams), 4) AS top_ngram_frac
FROM g
"""


# GPT-2-style pretokenizer regex (no lookahead, so the same pattern runs
# under Java regex AND DuckDB's RE2 for the oracle): contractions, optional
# leading-space letter runs, digit runs, punctuation runs, whitespace runs
BPE_SPLIT = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
)


def bpe_token_count(df: DataFrame) -> DataFrame:
    """BPE-ish pretokenization count (the subword-tokenizer budget proxy a
    training pipeline filters on), alongside the whitespace and distinct
    whitespace-token counts (the former standalone token_count operator)."""
    toks = F.regexp_extract_all("text", F.lit(BPE_SPLIT), F.lit(0))
    w = _words()
    return df.select(
        "doc_id",
        F.size(toks).alias("n_bpe_pretokens"),
        F.size(F.filter(toks, lambda t: ~t.rlike("^\\s+$")))
        .alias("n_bpe_nonspace"),
        F.size(w).alias("n_ws_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
    )


def unigram_logprob(df: DataFrame, top_k: int = 1000) -> DataFrame:
    """Corpus-informed quality score: average unigram log-probability per
    document under the corpus's own top-k vocabulary (the cheap stand-in
    for LM-perplexity filtering a training pipeline runs at ingest).

    Returns (doc_id, n_words, n_oov, avg_logprob) where P(w) = count/total
    over the top-k vocabulary and OOV words take the 1/total floor.

    Scale shape: ONE groupBy(word) with map-side combine builds corpus
    counts; the top-k cut runs as a distributed TakeOrdered (deterministic
    ties: count desc, word asc) so the vocabulary is small by construction
    and BROADCASTS to the scoring join — the per-doc pass is explode +
    broadcast-join + re-aggregate on doc_id. No driver-side collect of
    corpus data; the only global value (total count) is a 1-row aggregate
    cross-joined in.
    """
    words = df.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    vocab = (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(top_k)
    )
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    scored = (
        words.join(F.broadcast(vocab), "word", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.col("cnt").isNull()).cast("int").alias("oov"),
            F.log(F.coalesce(F.col("cnt").cast("double"), F.lit(1.0))
                  / F.col("total")).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_words"),
            F.sum("oov").cast("int").alias("n_oov"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


def unigram_logprob_sql(table: str = "documents", top_k: int = 1000) -> str:
    """DuckDB oracle twin of unigram_logprob."""
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM {table}
),
counts AS (
  SELECT word, count(*) AS cnt FROM words GROUP BY word
),
vocab AS (
  SELECT word, cnt FROM (
    SELECT word, cnt,
           row_number() OVER (ORDER BY cnt DESC, word ASC) AS rn
    FROM counts) WHERE rn <= {top_k}
),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
SELECT w.doc_id,
       CAST(count(*) AS INT) AS n_words,
       CAST(sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS INT)
         AS n_oov,
       round(avg(ln(coalesce(CAST(v.cnt AS DOUBLE), 1.0) / t.total)), 4)
         AS avg_logprob
FROM words w LEFT JOIN vocab v USING (word), total t
GROUP BY w.doc_id
"""


# PII patterns chosen to be exactly equivalent under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded quantifiers, \b — no lookaround.
# Scrub order matters and is part of the contract: emails first (they
# contain dots + digits an IP/phone pattern would half-match), then IPs,
# then phone-shaped digit runs over the already-scrubbed text.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9 ()-]{7,}[0-9]", "[PHONE]"),
]


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII redaction (C4/Dolma-style curation stage): emails, IPv4
    addresses, and phone-shaped digit runs replaced with typed tokens,
    with per-type match counts.

    Returns (doc_id, n_emails, n_ips, n_phones, clean_text). Counts are
    taken on the progressively scrubbed text (an email's digits can never
    double-count as a phone). Pure JVM regexp_replace/regexp_count per
    row — no shuffle, no Python, scale-free; the patterns are the
    standard over-trigger trade every production scrubber makes."""
    out = df.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_t0"))
    cols = []
    cur = "_t0"
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        nxt = f"_t{i + 1}"
        out = out.withColumn(
            f"n_{name}s", F.regexp_count(F.col(cur), F.lit(pat)).cast("int")
        ).withColumn(nxt, F.regexp_replace(F.col(cur), pat, repl))
        cols.append(f"n_{name}s")
        cur = nxt
    return out.select("doc_id", *cols, F.col(cur).alias("clean_text"))


def pii_scrub_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB oracle twin of pii_scrub (same patterns, same scrub order;
    RE2 and Java regex agree on this pattern subset)."""
    # SQL string literals: double every quote inside a pattern
    em, ip, ph = (p.replace("'", "''") for _, p, _ in PII_PATTERNS)
    return f"""
WITH t0 AS (SELECT doc_id, {text_expr} AS t FROM {table}),
t1 AS (SELECT doc_id,
              len(regexp_extract_all(t, '{em}')) AS n_emails,
              regexp_replace(t, '{em}', '[EMAIL]', 'g') AS t FROM t0),
t2 AS (SELECT doc_id, n_emails,
              len(regexp_extract_all(t, '{ip}')) AS n_ips,
              regexp_replace(t, '{ip}', '[IP]', 'g') AS t FROM t1)
SELECT doc_id, n_emails::INT AS n_emails, n_ips::INT AS n_ips,
       len(regexp_extract_all(t, '{ph}'))::INT AS n_phones,
       regexp_replace(t, '{ph}', '[PHONE]', 'g') AS clean_text
FROM t2
"""
