"""Text-analysis + dedup queries over ``documents`` (north-star LLM-
pipeline operators, SURVEY §2.10): token counting, term frequencies,
quality scoring, language-ID heuristic, fingerprinting, exact dedup,
n-gram Jaccard near-dup.

Scale notes:
- exact dedup / fingerprint dedup shuffle on a hash of the normalized
  text (or its md5), never on the full text value.
- the Jaccard near-dup query generates candidate pairs via shared
  tokens (inverted index), not a cross join; the pair space is bounded
  by the token-postings sizes. MinHash/LSH (operators/dedup.py) is the
  100 TB path; this explicit formulation is the oracle-checkable one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ngrams,
    normalize_ws_lower,
    ws_collapse_sql,
    ws_norm_sql,
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet

# Stopword profiles for the language-ID heuristic; deterministic and
# tiny so both engines inline them. (A real pipeline would plug fasttext
# here — same operator shape, different scorer.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


@register(
    "text_token_stats",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
         len({ws_tokens_sql('text')})
           AS n_tokens,
         n_chars
  FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM tok GROUP BY lang
""",
    doc="Token counting (whitespace tokenizer) aggregated per lang.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.size(ws_tokens(F.col("text"))).alias("n_tokens")
    return (
        d.select("lang", toks, "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "text_term_frequencies",
    f"""
SELECT term, count(*) AS n FROM (
  SELECT unnest({ws_tokens_sql('text')})
           AS term
  FROM documents)
WHERE term <> ''
GROUP BY term ORDER BY n DESC, term ASC LIMIT 30
""",
    doc="Corpus term frequencies: explode(tokens) -> count -> top-k. "
    "Partial agg bounds the shuffle by vocabulary size per partition.",
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(30)
    )


# Quality score: deterministic arithmetic over cheap per-doc signals —
# mean token length, stopword ratio, char count band; weights 0.4 /
# 0.3 / 0.3. The score is emitted in MILLIONTHS via pure BIGINT
# arithmetic: the double formulation (0.4*min(n,100)/100 +
# 0.3*min(L/(8n),1) + 0.3*k/n, rounded) landed on exact decimal ties
# (e.g. 0.5196875) where Spark's and DuckDB's last-ulp doubles round
# in opposite directions — found at sf0.1, 4 docs in 5000. The
# algebraically identical exact rational is
#   (8*n*min(n,100) + 75*min(L,8n) + 600*k) / (2000*n)
# so floor(1e6 * q) = (500 * numerator) DIV n — integer-exact on any
# engine, no doubles anywhere.
_QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS toks
  FROM documents),
sig AS (
  SELECT doc_id,
         len(toks) AS n,
         length(array_to_string(toks, '')) AS l_chars,
         len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS k
  FROM tok)
SELECT doc_id,
       CAST((500 * (8 * n * least(n, 100) + 75 * least(l_chars, 8 * n)
                    + 600 * k)) // n AS BIGINT) AS quality_millionths
FROM sig
"""


@register(
    "text_quality_score",
    _QUALITY_SQL,
    doc="Quality scoring: length band + mean token length + stopword "
    "ratio, fixed weights (heuristic-filtering shape for LLM data "
    "prep). Integer-exact in millionths — see _QUALITY_SQL comment "
    "for why doubles cannot cross-engine-hash here.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    sig = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.length(F.array_join(toks, "")).cast("long").alias("l_chars"),
        F.size(
            F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
        ).cast("long").alias("k"),
    )
    num = (
        F.lit(8) * F.col("n") * F.least(F.col("n"), F.lit(100))
        + F.lit(75) * F.least(F.col("l_chars"), F.lit(8) * F.col("n"))
        + F.lit(600) * F.col("k")
    )
    return sig.select(
        "doc_id",
        (F.lit(500) * num).alias("__scaled"),
        "n",
    ).select(
        "doc_id",
        F.expr("CAST(__scaled DIV n AS BIGINT)").alias("quality_millionths"),
    )


def _langid_sql() -> str:
    scores = []
    for lang, words in LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        scores.append(
            f"len(list_filter(toks, t -> t IN ({inlist}))) AS score_{lang}"
        )
    score_cols = ", ".join(scores)
    # argmax with deterministic tie-break: higher score wins, ties break
    # by language code ascending.
    pairs = ", ".join(f"(score_{lang}, '{lang}')" for lang in LANG_STOPWORDS)
    return f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS toks
  FROM documents),
scored AS (SELECT doc_id, {score_cols} FROM tok)
SELECT doc_id,
       (SELECT lang FROM (VALUES {pairs}) AS v(s, lang)
        ORDER BY s DESC, lang ASC LIMIT 1) AS lang_pred
FROM scored
"""


@register(
    "text_langid_heuristic",
    _langid_sql(),
    doc="Language-ID: stopword-profile argmax with deterministic "
    "tie-break (n-gram heuristic shape; scorer is pluggable).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    df = d.select("doc_id", toks.alias("toks"))
    # NB: the lambda must have exactly one parameter — PySpark treats a
    # second parameter (even a default) as the element-index argument.
    def stopword_pred(words: tuple[str, ...]):
        return lambda t: t.isin(*words)

    for lang, words in LANG_STOPWORDS.items():
        df = df.withColumn(
            f"score_{lang}", F.size(F.filter(F.col("toks"), stopword_pred(words)))
        )
    # argmax via array of (score, lang) structs + array_max: struct
    # comparison is lexicographic, so (score asc, lang desc) max ==
    # (score desc, lang asc) winner — flip lang ordering by negating...
    # simpler: sort desc by score then asc by lang using array_sort with
    # comparator.
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"), F.lit(lang).alias("lang")
            )
            for lang in LANG_STOPWORDS
        ]
    )
    best = F.array_sort(
        pairs,
        lambda a, b: F.when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1)
        .when(a.getField("lang") < b.getField("lang"), -1)
        .when(a.getField("lang") > b.getField("lang"), 1)
        .otherwise(0),
    )[0].getField("lang")
    return df.select("doc_id", best.alias("lang_pred"))


@register(
    "text_fingerprint",
    f"""
SELECT doc_id,
       md5({ws_norm_sql('text')}) AS fingerprint
FROM documents
""",
    doc="Document fingerprint: md5 of whitespace-normalized lowercase "
    "text (engine-portable; rolling/simhash variants in operators/dedup).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_ws_lower(F.col("text"))
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


@register(
    "docs_exact_dedup",
    f"""
SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM (SELECT doc_id,
             md5({ws_norm_sql('text')}) AS fingerprint
      FROM documents)
GROUP BY fingerprint
""",
    doc="Exact dedup: hash-groupBy on normalized-text digest, keep "
    "min(doc_id). Shuffles 16-byte digests, not document bodies — the "
    "100 TB-safe formulation of dropDuplicates.",
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_ws_lower(F.col("text"))
    return (
        d.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Document-frequency ceiling for the Jaccard near-dup vocabulary: a
# term appearing in more than MAX_DF of the (bounded, <200) docs is
# stopword-grade — its posting list makes the inverted-index self-join
# quadratic in that term's df (the skew bomb at 100 TB: one hot term
# = |df|^2 join rows in one task). Pruning it bounds every posting
# list at MAX_DF, so the pair space is <= n_terms * MAX_DF^2 and no
# single join key dominates. Jaccard is then computed over the pruned
# vocabulary on BOTH engines (sizes too), keeping the oracle exact.
JACCARD_MAX_DF = 100

# CTE stack shared by the pair query and the cluster query's oracle.
_JACCARD_CTES = f"""tok AS (
  SELECT doc_id,
         list_distinct({ws_tokens_sql('text')}) AS toks
  FROM documents WHERE doc_id < 200),
posting AS (SELECT doc_id, unnest(toks) AS term FROM tok),
tdf AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
kept AS (SELECT p.doc_id, p.term FROM posting p
         JOIN tdf ON p.term = tdf.term WHERE tdf.df <= {JACCARD_MAX_DF}),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
pairs AS (
  SELECT doc_a, doc_b,
         round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM pair_inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8)"""


@register(
    "docs_near_dup_jaccard",
    f"WITH {_JACCARD_CTES}\nSELECT doc_a, doc_b, jaccard FROM pairs",
    doc="N-gram (1-gram) Jaccard near-dup via inverted-index candidate "
    "pairs — no cross join, and terms with document frequency above "
    f"JACCARD_MAX_DF={JACCARD_MAX_DF} are pruned BEFORE the self-join "
    "(posting lists bounded, no hot join key). LSH banding "
    "(operators/dedup.py) replaces the exact pair count at 100 TB. "
    "doc_id<200 bounds the oracle.",
)
def docs_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir)


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    tok = d.select(
        "doc_id", F.array_distinct(ws_tokens(F.col("text"))).alias("toks")
    )
    posting = tok.select("doc_id", F.explode("toks").alias("term"))
    tdf = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # no broadcast hint: the kept-vocabulary size is corpus-dependent
    # (unbounded at 100 TB) — AQE picks broadcast when it actually fits
    kept = posting.join(
        tdf.filter(F.col("df") <= JACCARD_MAX_DF).select("term"),
        "term",
        "left_semi",
    )
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac = F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "text_tfidf_top_terms",
    f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS toks
  FROM documents WHERE doc_id < 300),
n_docs AS (SELECT count(*) AS n FROM tok),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term <> '' GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT t.doc_id, t.term,
       round(t.tf * ln((SELECT n FROM n_docs) * 1.0 / df.df), 6) AS tfidf
FROM tf t JOIN df ON t.term = df.term
WHERE t.tf * ln((SELECT n FROM n_docs) * 1.0 / df.df) > 2.0
""",
    doc="TF-IDF scoring (text-analytics staple): per-doc term "
    "frequencies, corpus document frequencies, tf * ln(N/df), "
    "thresholded. Two keyed aggs + one join on term; the df table is "
    "vocabulary-sized (AQE broadcasts when it fits). doc_id<300 "
    "bounds the oracle; threshold (p99-ish on this corpus) keeps the output sparse.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    posting = d.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = posting.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Corpus size as a broadcast 1-row frame, not a driver-side
    # d.count(): keeps the whole query ONE job (no separate count
    # action) and one plan Catalyst can see end-to-end.
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    tdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfidf = F.col("tf") * F.log(F.col("__n") / F.col("df"))
    return (
        tf.join(tdf, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(tfidf > 2.0)
        .select("doc_id", "term", F.round(tfidf, 6).alias("tfidf"))
    )


@register(
    "docs_dedup_clusters",
    f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
""",
    doc="Near-dup CLUSTERS: connected components over the Jaccard pair "
    "edges (operators/components.py min-label propagation — keyed "
    "joins + min-aggs per round, labels localCheckpoint'ed, no "
    "collect). component = min reachable doc_id = the doc a dedup "
    "pass would keep. Oracle: DuckDB recursive CTE computing exact "
    "reachability minima over the same pairs.",
)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )

    pairs = _jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").cast("bigint")
        .alias("component")
    )


@register(
    "docs_dedup_canonical",
    f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
full_map AS (
  SELECT d.doc_id, CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster,
         d.n_chars
  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 200) d
  LEFT JOIN comp c ON d.doc_id = c.node)
SELECT doc_id, cluster,
       first_value(doc_id) OVER (PARTITION BY cluster
                                 ORDER BY n_chars DESC, doc_id ASC)
         AS kept_doc,
       doc_id = first_value(doc_id) OVER (PARTITION BY cluster
                                          ORDER BY n_chars DESC, doc_id ASC)
         AS is_kept
FROM full_map
""",
    doc="The dedup pipeline's FINAL stage: every document mapped to "
    "its near-dup cluster (docs outside any pair are singletons) and "
    "to the cluster's canonical survivor — longest text wins, doc_id "
    "breaks ties. This is the keep-one decision a 100 TB dedup pass "
    "materializes: clusters via min-label propagation, then one "
    "window over cluster (a key whose group size is the cluster "
    "size, bounded by dedup locality — no global sort). doc_id<200 "
    "bounds the recursive oracle.",
)
def docs_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )

    pairs = _jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select(
        "doc_id", "n_chars"
    )
    full = docs.join(
        cc, docs["doc_id"] == cc["node"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("bigint")
        .alias("cluster"),
        "n_chars",
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    kept = F.first("doc_id").over(w)
    return full.select(
        "doc_id",
        "cluster",
        kept.alias("kept_doc"),
        (F.col("doc_id") == kept).alias("is_kept"),
    )


@register(
    "docs_cluster_safe_split",
    f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
full_map AS (
  SELECT d.doc_id,
         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster
  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
  LEFT JOIN comp c ON d.doc_id = c.node),
tagged AS (
  SELECT doc_id, cluster,
         CASE WHEN b < 12 THEN 'train'
              WHEN b < 14 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, cluster,
               position(substring(md5(CAST(cluster AS VARCHAR)), 1, 1)
                        in '0123456789abcdef') - 1 AS b
        FROM full_map))
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM tagged GROUP BY split
""",
    doc="LEAKAGE-SAFE train/val/test split: documents are split at the "
    "near-dup-CLUSTER grain, not the doc grain — the split label comes "
    "from md5(cluster), where cluster = connected-components min-label "
    "over the Jaccard>=0.8 pair graph (singletons = own doc_id). A "
    "per-doc hash split leaks: two near-duplicates hash independently "
    "and ~25% of dup pairs straddle train/test, inflating eval. "
    "Splitting on the cluster id makes straddling IMPOSSIBLE by "
    "construction (same cluster -> same nibble -> same split); "
    "tests/test_pipeline_ops.py asserts zero straddling pairs. At "
    "100 TB this is components (keyed joins, O(log d) rounds) + one "
    "stateless projection — no extra shuffle beyond the cluster map "
    "join. id_checksum pins exact per-split membership cross-engine.",
)
def docs_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )
    from dataengineer_job_scraper_etl_spark.queries.sampling import hash_split

    pairs = _jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id")
    full = docs.join(cc, docs["doc_id"] == cc["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("bigint")
        .alias("cluster"),
    )
    return (
        hash_split(full, "cluster")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


@register(
    "docs_contamination_ngram",
    f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
  FROM tok),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN bench.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       round(sum(CASE WHEN bench.gram IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS contamination_rate
FROM g LEFT JOIN bench ON g.gram = bench.gram
WHERE g.doc_id >= 5
GROUP BY g.doc_id
""",
    doc="Benchmark-contamination check (LLM training hygiene): per "
    "document, the fraction of its DISTINCT 3-grams that appear in a "
    "held-out benchmark set (here: the 3-grams of doc_id < 5). The "
    "benchmark gram set is broadcast (it is bounded by the benchmark "
    "suite size, not the corpus), so the corpus side never shuffles: "
    "explode -> broadcast left join -> per-doc agg, one exchange on "
    "doc_id. At 100 TB the bench set for a real eval suite is a few "
    "million grams — still broadcastable; were it not, the same plan "
    "with a shuffle hash join on gram is the fallback Spark picks.",
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # Tokenize into an ALIASED column first (the ngrams contract): the
    # window lambda would otherwise inline the whole regexp+split and
    # Spark does no CSE inside lambda functions.
    tokd = d.select("doc_id", ws_tokens(F.col("text")).alias("__toks"))
    grams = tokd.select(
        "doc_id", F.explode(ngrams(F.col("__toks"), 3)).alias("gram")
    ).dropDuplicates(["doc_id", "gram"])
    bench = (
        grams.filter(F.col("doc_id") < 5).select("gram").distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        grams.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1)),
                6,
            ).alias("contamination_rate"),
        )
    )


@register(
    "text_repetition_signals",
    f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
flat AS (SELECT doc_id, unnest(t) AS tok FROM tok),
per_tok AS (
  SELECT doc_id, tok, count(*) AS c FROM flat GROUP BY doc_id, tok),
big AS (
  SELECT doc_id,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
  FROM tok),
bigstats AS (
  SELECT doc_id, len(bg) AS n_bigrams,
         len(list_distinct(bg)) AS n_distinct_bigrams
  FROM big)
SELECT p.doc_id,
       CAST(sum(p.c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(count(*) / sum(p.c), 6) AS distinct_ratio,
       round(max(p.c) / sum(p.c), 6) AS top_token_frac,
       round(1.0 - b.n_distinct_bigrams / b.n_bigrams, 6) AS dup_bigram_rate
FROM per_tok p JOIN bigstats b ON b.doc_id = p.doc_id
GROUP BY p.doc_id, b.n_bigrams, b.n_distinct_bigrams
""",
    doc="Within-document repetition quality signals (LLM data "
    "filtering): distinct-token ratio, most-frequent-token mass, and "
    "duplicate-bigram rate per doc. The bigram stats are per-row "
    "array ops (size/array_distinct — no shuffle at all); only the "
    "token-mode stat aggregates, shuffling (doc_id, token, count) "
    "partials once. Filters like 'drop docs with top_token_frac > "
    "0.2' are then a pushed-down predicate.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # Two hard-won evaluation-order rules (both measured, not
    # theoretical):
    # 1. Tokenize into an ALIASED column before building bigrams —
    #    a tokenizer inside the ngrams lambda re-runs the whole
    #    regexp+split per window (no CSE inside lambdas).
    # 2. Project the O(n^2) array_distinct below the explode — an
    #    expression in the same select as a generator is evaluated per
    #    GENERATED row (113s -> ~1s at sf0.01 for this split).
    tokd = d.select("doc_id", ws_tokens(F.col("text")).alias("__toks"))
    bigrams = ngrams(F.col("__toks"), 2)
    pre = tokd.select(
        "doc_id",
        "__toks",
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
    )
    base = pre.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        F.explode("__toks").alias("tok"),
    )
    per_tok = base.groupBy(
        "doc_id", "n_bigrams", "n_distinct_bigrams", "tok"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy("doc_id", "n_bigrams", "n_distinct_bigrams")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_ratio"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "distinct_ratio",
            "top_token_frac",
            F.round(
                1.0 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6
            ).alias("dup_bigram_rate"),
        )
    )


@register(
    "text_unigram_logprob",
    f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
flat AS (SELECT doc_id, unnest(t) AS tok FROM tok),
uni AS (SELECT tok, count(*) AS c FROM flat GROUP BY tok),
n AS (SELECT sum(c) AS total FROM uni)
SELECT f.doc_id,
       round(avg(-ln(uni.c / n.total)), 6) AS avg_neg_logprob
FROM flat f JOIN uni ON uni.tok = f.tok CROSS JOIN n
GROUP BY f.doc_id
""",
    doc="Unigram cross-entropy scoring (perplexity-ish quality "
    "signal): train corpus-wide unigram frequencies, score each doc "
    "as the mean negative log-probability of its tokens. The unigram "
    "table is an aggregate of the corpus itself (vocab-sized — "
    "broadcastable at any realistic scale; AQE decides), the total "
    "travels as a broadcast 1-row frame, and scoring is explode -> "
    "join -> per-doc agg. High scores = rare-token-heavy docs, the "
    "usual 'junk or gold' review queue.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    flat = d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    uni = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").cast("double").alias("__total"))
    return (
        flat.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log(F.col("c") / F.col("__total"))), 6
            ).alias("avg_neg_logprob")
        )
    )


# PII regex battery. Kept RE2-compatible (no backrefs/lookaround) so
# the same pattern text runs verbatim in Java regex (Spark) and RE2
# (DuckDB); \b is supported by both.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{2} \d{7}"


@register(
    "text_pii_redaction",
    f"""
WITH seeded AS (
  SELECT doc_id,
         text || repeat(' user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com', 1 + doc_id % 3)
              || ' call +47 ' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS txt
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(txt, '{_PII_IP}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(txt,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS red_fp
FROM seeded
""",
    doc="PII scrubbing (mandatory pre-training hygiene pass): redact "
    "emails, IPv4 addresses, and phone numbers via a regex battery, "
    "reporting per-doc match counts and an md5 fingerprint of the "
    "redacted text so the REDACTION ITSELF is hash-checked cross-"
    "engine, not just the counts. The fixture corpus contains no PII, "
    "so each row is seeded with synthetic PII derived deterministically "
    "from doc_id (identically on both engines) — including a varying "
    "email multiplicity so counts aren't constant. Per-row narrow "
    "JVM-side regex work; no shuffle, no UDF; patterns are "
    "RE2-and-Java-compatible by construction.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    seeded = F.concat(
        F.col("text"),
        F.repeat(
            F.concat(F.lit(" user"), did.cast("string"),
                     F.lit("@mail.example.com")),
            (F.lit(1) + did % 3).cast("int"),
        ),
        F.lit(" call +47 "),
        F.lpad((did % 10_000_000).cast("string"), 7, "0"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit(".0."),
        ((did * 7) % 256).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>",
        ),
        _PII_PHONE, "<PHONE>",
    )
    return (
        d.select("doc_id", seeded.alias("txt"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("txt"), F.lit(_PII_EMAIL), F.lit(0)))
            .cast("bigint").alias("n_email"),
            F.size(F.regexp_extract_all(F.col("txt"), F.lit(_PII_PHONE), F.lit(0)))
            .cast("bigint").alias("n_phone"),
            F.size(F.regexp_extract_all(F.col("txt"), F.lit(_PII_IP), F.lit(0)))
            .cast("bigint").alias("n_ip"),
            F.md5(redacted).alias("red_fp"),
        )
    )


# --- BM25 ranking (operators/ranking.py) -----------------------------
# Query terms are part of the entry's contract: real corpus-selection
# queries are bounded term lists; these three appear throughout the
# synthetic documents so every sf produces a well-populated ranking.
BM25_QUERY_TERMS = ["spark", "hash", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle_sql(terms: list[str], k1: float, b: float) -> str:
    """DuckDB twin of operators/ranking.bm25_scores: same single
    tokenize projection, array-side tf via list_filter, 1-row stats,
    identical arithmetic. Scores leave as ppm BIGINTs (catalog dtype
    contract)."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    score = "\n           + ".join(
        f"(CASE WHEN tf{i} > 0 THEN"
        f" ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * ({k1} + 1))"
        f" / (tf{i} + {k1} * (1 - {b} + {b} * dl / avgdl))"
        f" ELSE 0 END)"
        for i in range(len(terms))
    )
    matched = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    return f"""
WITH per_doc AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM (SELECT doc_id,
               {ws_tokens_sql('text')} AS toks
        FROM documents)),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
         {df_cols}
  FROM per_doc)
SELECT doc_id,
       CAST(round(({score}) * 1e6) AS BIGINT) AS bm25_ppm
FROM per_doc, stats
WHERE {matched}
"""


@register(
    "text_bm25_ranking",
    _bm25_oracle_sql(BM25_QUERY_TERMS, _BM25_K1, _BM25_B),
    doc="Okapi BM25 ranking of documents for a bounded query-term list "
    "(operators/ranking.py): ONE tokenize scan emits the compact "
    "per-doc index (dl + array-side tf per term, no explode), "
    "localCheckpoint'ed so corpus stats and scoring share it; the only "
    "broadcast is the 1-row stats frame. Scores ppm-rounded to BIGINT "
    "for the driver's pandas hash.",
)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.ranking import (
        bm25_scores,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    scored = bm25_scores(d, BM25_QUERY_TERMS, k1=_BM25_K1, b=_BM25_B)
    return scored.select(
        "doc_id",
        F.round(F.col("bm25") * 1e6, 0).cast("bigint").alias("bm25_ppm"),
    )


# --- corpus text cleaning (functions/textclean.py) -------------------
# The raw documents are clean, so markup/entity/boilerplate noise is
# SEEDED deterministically from doc_id (same device as
# text_pii_redaction): script/style blocks, per-doc entity tails, and
# classic boilerplate lines, identically constructed on both engines.
_UNCTRL_SQL = "regexp_replace(s, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', ' ', 'g')"
_CLEAN_ORACLE = """
WITH seeded AS (
  SELECT doc_id,
    '<div id="main"> '
    || CASE WHEN doc_id % 3 = 0 THEN '<script a="b">var x = 1 && y < 2; <fake></script> ' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN '<style>p { color: red }</style> ' ELSE '' END
    || text
    || ' &amp; tail &lt;esc&gt; &quot;q&quot; &#39;s&#39; one&nbsp;two'
    || chr(10) || 'Copyright 2026 Example Corp. All rights reserved' || chr(10)
    || CASE WHEN doc_id % 5 = 0 THEN 'We use cookies to improve your experience' || chr(10) ELSE '' END
    || 'last <b>real</b> line</div>' AS s
  FROM documents),
stripped AS (
  SELECT doc_id,
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(s, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', chr(39)), '&amp;', '&') AS s
  FROM seeded),
unboiled AS (
  SELECT doc_id,
    array_to_string(list_filter(string_split(s, chr(10)),
      l -> NOT regexp_matches(l, '(?i)^\\s*(©|\\(c\\)\\s|copyright\\b|all rights reserved|accept (all )?cookies|we use cookies|cookie (policy|settings)|subscribe to our newsletter|sign in to continue|terms (of (use|service))?\\s*\\|\\s*privacy).*$')),
      chr(10)) AS s
  FROM stripped)
""" + f"""SELECT doc_id,
  md5({ws_collapse_sql(_UNCTRL_SQL)}) AS clean_fp,
  CAST(length({ws_collapse_sql(_UNCTRL_SQL)}) AS BIGINT) AS clean_len
FROM unboiled
"""


@register(
    "text_clean_markup",
    _CLEAN_ORACLE,
    doc="Stage-0 corpus cleaning (functions/textclean.clean_text) over "
    "documents with seeded markup noise: script/style blocks dropped "
    "wholesale, remaining tags stripped, HTML entities unescaped "
    "(order-sensitive: &amp; last), boilerplate lines removed "
    "line-wise BEFORE whitespace collapse, control chars and runs "
    "normalized. md5 + length of the cleaned text pin every byte on "
    "both engines. All JVM regex chains — one projection, no Python. "
    "Oracle note: Spark's block regex uses a backreference ((script|"
    "style)...</\\1>) which RE2 lacks, so the DuckDB twin strips "
    "script and style in two passes — equivalent on non-interleaved "
    "blocks, which the seeding guarantees.",
)
def text_clean_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.functions.textclean import (
        clean_text,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    blank = F.lit("")
    seeded = F.concat(
        F.lit('<div id="main"> '),
        F.when(
            did % 3 == 0,
            F.lit('<script a="b">var x = 1 && y < 2; <fake></script> '),
        ).otherwise(blank),
        F.when(
            did % 4 == 0, F.lit("<style>p { color: red }</style> ")
        ).otherwise(blank),
        F.col("text"),
        F.lit(" &amp; tail &lt;esc&gt; &quot;q&quot; &#39;s&#39; one&nbsp;two"),
        F.lit("\nCopyright 2026 Example Corp. All rights reserved\n"),
        F.when(
            did % 5 == 0,
            F.lit("We use cookies to improve your experience\n"),
        ).otherwise(blank),
        F.lit("last <b>real</b> line</div>"),
    )
    cleaned = clean_text(seeded)
    return d.select(
        "doc_id",
        F.md5(cleaned).alias("clean_fp"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
    )


_TERCILES_ORACLE = f"""
WITH q AS ({_QUALITY_SQL}),
tok AS (
  SELECT doc_id, source,
         len({ws_tokens_sql('text')}) AS n_toks
  FROM documents),
b AS (
  SELECT t.source, t.doc_id, t.n_toks, q.quality_millionths,
         ntile(3) OVER (PARTITION BY t.source
                        ORDER BY q.quality_millionths DESC, t.doc_id ASC)
           AS bucket
  FROM tok t JOIN q USING (doc_id))
SELECT source, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS tokens,
       CAST(min(quality_millionths) AS BIGINT) AS q_min,
       CAST(max(quality_millionths) AS BIGINT) AS q_max,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM b GROUP BY source, bucket
"""


@register(
    "docs_quality_terciles",
    _TERCILES_ORACLE,
    doc="CCNet-style head/middle/tail bucketing, per source: rank docs "
    "by the integer-exact quality score (total order via the doc_id "
    "tiebreak — no float-boundary ambiguity) and ntile(3) them into "
    "terciles; per-bucket doc/token counts, score range, and "
    "id_checksum pin EXACT bucket membership. The per-source window "
    "is the CCNet unit (buckets are computed per language/snapshot); "
    "at extreme per-source scale the window swaps for histogram-"
    "derived score cutoffs + a filter, the same escape hatch "
    "select_by_token_budget documents.",
)
def docs_quality_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    q = text_quality_score(spark, sf_dir)
    base = d.select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_toks"),
    ).join(q, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_millionths"), F.asc("doc_id")
    )
    b = base.withColumn("bucket", F.ntile(3).over(w))
    return b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("tokens"),
        F.min("quality_millionths").alias("q_min"),
        F.max("quality_millionths").alias("q_max"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    ).select(
        "source",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "tokens",
        "q_min",
        "q_max",
        "id_checksum",
    )


@register(
    "docs_source_dedup_audit",
    f"""
WITH fp AS (
  SELECT doc_id, source,
         md5({ws_norm_sql('text')}) AS f
  FROM documents),
keep AS (SELECT f, min(doc_id) AS k FROM fp GROUP BY f)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN fp.doc_id <> keep.k THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_rows,
       CAST(sum(CASE WHEN fp.doc_id <> keep.k THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM fp JOIN keep ON fp.f = keep.f
GROUP BY source
""",
    doc="Per-source dedup-rate audit (the data-governance view of "
    "exact dedup): for each source, how many rows are NON-CANONICAL "
    "copies (same normalized-text digest as a lower doc_id — the "
    "survivor rule of docs_exact_dedup) and the rate in integer ppm. "
    "Same 100 TB shape as the dedup itself: only (digest, id) pairs "
    "shuffle, text never moves, and the audit is one extra groupBy "
    "over columns already in hand. INTEGER-EXACT output.",
)
def docs_source_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_ws_lower(F.col("text"))
    fp = d.select("doc_id", "source", F.md5(norm).alias("f"))
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("k"))
    dup = (F.col("doc_id") != F.col("k")).cast("long")
    return (
        fp.join(keep, on="f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_dup_rows"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_rows",
            F.expr(
                "CAST(n_dup_rows * 1000000L div n_docs AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


_VOCAB_CUTOFFS = (10, 100, 1000, 10000)


@register(
    "text_vocab_coverage_curve",
    f"""
WITH terms AS (
  SELECT unnest({ws_tokens_sql('text')})
           AS term
  FROM documents),
tf AS (SELECT term, count(*) AS n FROM terms
       WHERE term <> '' GROUP BY term),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM tf),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term ASC) AS rnk
  FROM tf),
cum AS (
  SELECT rnk, CAST(sum(n) OVER (ORDER BY rnk) AS BIGINT) AS c
  FROM ranked)
SELECT CAST(k AS BIGINT) AS vocab_size,
       CAST(coalesce((SELECT max(c) FROM cum WHERE rnk <= k),
                     (SELECT max(c) FROM cum))
            * 1000000 // (SELECT t FROM tot) AS BIGINT) AS covered_ppm
FROM (SELECT unnest({list(_VOCAB_CUTOFFS)}) AS k)
""",
    doc="Tokenizer-vocabulary coverage curve: the share of corpus "
    "token OCCURRENCES covered by the top-N most frequent terms "
    f"(N in {_VOCAB_CUTOFFS}) — the audit that decides vocab size "
    "before a tokenizer train. Ranking is deterministic "
    "(count DESC, term ASC); coverage is INTEGER-EXACT ppm. One "
    "term-count groupBy (shuffle bounded by vocabulary, "
    "combiner-friendly), then rank AND running coverage come from "
    "ONE two-stage parallel prefix pass (operators/prefix.py) whose "
    "checkpoint guarantees the tokenize->explode->groupBy executes "
    "EXACTLY ONCE (VERDICT r7 flagged the previous mid-plan collects "
    "re-running it 3x) and whose per-partition scan replaces the "
    "vocabulary-sized unpartitioned window; the grand total folds "
    "back in via a broadcast crossJoin, not a collect. Counts are "
    "positive, so total coverage == max running coverage. Cutoffs "
    "beyond the vocabulary saturate at total coverage.",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    d = _docs(spark, sf_dir)
    tf = (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = global_prefix(
        tf,
        [F.desc("n"), F.asc("term")],
        sums={"c": "n"},
        row_number_col="rnk",
    ).select("rnk", "c")
    # grand total = last running sum (counts are positive); computed
    # from the prefixed (checkpointed) frame so the corpus-scale
    # tokenize never re-runs, folded in via broadcast — no collect
    grand = cum.agg(F.max("c").cast("bigint").alias("g"))
    ks = spark.createDataFrame(
        [(k,) for k in _VOCAB_CUTOFFS], "vocab_size long"
    )
    # counts are positive -> c strictly increasing in rnk, so coverage
    # at cutoff k is c AT rnk == k. Filter the prefixed frame to the
    # <=len(cutoffs) threshold rows and broadcast THAT into the
    # equi-join (ADVICE r8: the previous rnk <= k non-equi left join
    # forced a BroadcastNestedLoopJoin building the vocab-sized right).
    # Cutoffs beyond the vocabulary miss the join -> coalesce to g.
    thr = cum.filter(F.col("rnk").isin(list(_VOCAB_CUTOFFS))).select(
        F.col("rnk").alias("thr_rnk"), "c"
    )
    cov = ks.join(
        F.broadcast(thr), ks["vocab_size"] == thr["thr_rnk"], "left"
    )
    return cov.crossJoin(F.broadcast(grand)).select(
        "vocab_size",
        # integer div, not floor(double /): an exactly-divisible
        # c*1e6 could land an ulp below the true quotient in float
        # and floor to q-1 where the oracle's // gives q
        F.expr(
            "CAST(coalesce(c, g) * 1000000L div g AS BIGINT)"
        ).alias("covered_ppm"),
    )


@register(
    "docs_global_token_offsets",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({ws_tokens_sql('text')})
           AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
         AS start_offset
FROM t
""",
    doc="Global token offsets for corpus packing: each document's "
    "start position in the single concatenated token stream (ordered "
    "by doc_id) — the memmap-style packing index a training loader "
    "needs to slice sequences without re-tokenizing (the offsets-file "
    "companion to docs_pack_sequences' binpacking). start_offset = "
    "EXCLUSIVE prefix sum of whitespace token counts, computed by the "
    "two-stage parallel prefix (operators/prefix.py) — one range "
    "shuffle of (doc_id, n_tokens) pairs, per-partition scans, "
    "broadcast offsets; no unpartitioned window ever sees the "
    "corpus-sized frame. INTEGER-EXACT.",
)
def docs_global_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    pref = global_prefix(t, [F.asc("doc_id")], sums={"c": "n_tokens"})
    return pref.select(
        "doc_id",
        "n_tokens",
        (F.col("c") - F.col("n_tokens")).cast("bigint").alias("start_offset"),
    )


@register(
    "docs_shard_assignment",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({ws_tokens_sql('text')})
           AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS s
  FROM t),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t)
SELECT CAST(s * 8 // (SELECT total FROM tot) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM o GROUP BY 1
""",
    doc="Token-balanced contiguous sharding: assign each document to "
    "one of 8 shards by its global token START OFFSET (shard = "
    "offset*8 div total) — every shard holds a contiguous doc_id "
    "range carrying total/8 tokens up to one document of slack, the "
    "assignment a multi-host training loader needs so each rank "
    "streams an equal token budget without a shuffle at read time. "
    "Offsets come from the two-stage parallel prefix "
    "(operators/prefix.py), the grand total folds in via broadcast "
    "(no collect), and the per-shard rollup is a tiny 8-group agg. "
    "INTEGER-EXACT; companion to docs_global_token_offsets.",
)
def docs_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    pref = global_prefix(t, [F.asc("doc_id")], sums={"c": "n_tokens"})
    tot = pref.agg(F.max("c").cast("bigint").alias("total"))
    return (
        pref.select(
            "n_tokens", (F.col("c") - F.col("n_tokens")).alias("s")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST(s * 8 div total AS BIGINT)").alias("shard_id"),
            "n_tokens",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
    )
