"""Job-postings queries — the reference's own semantics (SURVEY §2.3,
§2.4, §2.7, §2.8: P1-P4, F1-F3, C1-C5, U1-U2, A1, J1) exercised over
the deterministic postings fixture derived from ``documents``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataengineer_job_scraper_etl_spark.catalog import PATTERNS_PATH, register
from dataengineer_job_scraper_etl_spark.functions.pay import (
    extract_pay,
    pay_oracle_sql,
)
from dataengineer_job_scraper_etl_spark.functions.seniority import (
    classify_seniority,
    seniority_oracle_sql,
)
from dataengineer_job_scraper_etl_spark.functions.strings import (
    jobid_from_urn,
    not_containing,
)
from dataengineer_job_scraper_etl_spark.io import (
    load_jsonl_driver_side,
    read_parquet,
)
from dataengineer_job_scraper_etl_spark.operators.skills import (
    extract_skills_native,
    phrases_from_patterns,
    skill_match_pairs,
    skills_oracle_padded_sql,
    skills_oracle_sql,
    text_phrases_from_patterns,
)
from dataengineer_job_scraper_etl_spark.plans.jobs import (
    POSTINGS_SQL,
    derive_postings,
    transform_postings,
    transform_postings_oracle_sql,
)

_PATTERN_ROWS = load_jsonl_driver_side(PATTERNS_PATH)
PHRASES = phrases_from_patterns(_PATTERN_ROWS)
# Case-sensitive {"TEXT": ...} stratum (spaCy EntityRuler semantics,
# main.py:132-139): matched verbatim incl. case + punctuation, output
# lowercased. 52 rows in the asset mirroring the reference's stratum.
TEXT_PHRASES = text_phrases_from_patterns(_PATTERN_ROWS)

_POSTINGS_CTE = f"WITH postings AS ({POSTINGS_SQL})"

# Full-corpus skills oracle: the padded haystack is MATERIALIZED once
# per row in an inner projection (skills_oracle_padded_sql docstring —
# inlining it into the 2,412-probe lambda is a ~100x oracle slowdown
# at sf1), then the filter probes the column.
_SKILLS_PREP_CTE = f"""{_POSTINGS_CTE},
prep AS (
  SELECT jobid, description,
         {skills_oracle_padded_sql('description')} AS __padded
  FROM postings WHERE description IS NOT NULL
)"""
_SKILLS_FULL_SQL = f"""{_SKILLS_PREP_CTE}
SELECT jobid,
       coalesce(array_to_string({skills_oracle_sql(
           'description', PHRASES, TEXT_PHRASES, padded_expr='__padded')}, '|'), '') AS skills
FROM prep"""


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_postings(read_parquet(spark, f"{sf_dir}/documents.parquet"))


@register(
    "jobs_postings_fixture",
    f"{_POSTINGS_CTE} SELECT jobid, title, description, job_type FROM postings",
    doc="S7/P1-P4: the derivation contract itself (typed frame from rows).",
)
def jobs_postings_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _postings(spark, sf_dir)


@register(
    "jobs_pay_extraction",
    f"{_POSTINGS_CTE} SELECT jobid, {pay_oracle_sql('description')} AS pay "
    "FROM postings",
    doc="C1/U1: pay regex chain, last-match-wins, K->000 (main.py:142-149).",
)
def jobs_pay_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _postings(spark, sf_dir).select(
        "jobid", extract_pay(F.col("description")).alias("pay")
    )


@register(
    "jobs_seniority",
    f"{_POSTINGS_CTE} SELECT jobid, {seniority_oracle_sql('title')} AS seniority "
    "FROM postings",
    doc="C3: first-match-wins when-chain (main.py:164-171).",
)
def jobs_seniority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _postings(spark, sf_dir).select(
        "jobid", classify_seniority(F.col("title")).alias("seniority")
    )


@register(
    "jobs_skills",
    # NB coalesce: DuckDB array_to_string([]) is NULL, Spark
    # array_join([]) is '' — '' is the canonical empty on both sides.
    _SKILLS_FULL_SQL,
    doc="U2/J2/A1: dictionary skill match, sorted distinct array; both "
    "strata (case-insensitive LOWER + case-sensitive TEXT, spaCy "
    "EntityRuler parity). Spark side runs the dictionary-size-"
    "independent n-gram broadcast join (the 100 TB formulation — the "
    "sf1 sweep made the O(|dict| x |text|) literal plan's cost "
    "concrete, and VERDICT r5 flagged it as a non-default path); the "
    "literal-expression twin keeps its own bounded oracle entry "
    "(jobs_skills_native_demo) plus full-dictionary equality tests. "
    "Driver-facing output is the '|'-joined string (the harness's "
    "pandas canonicalizer can't hash list cells).",
)
def jobs_skills(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.skills import (
        extract_skills_ngram_join,
    )

    df = _postings(spark, sf_dir).na.drop(subset=["description"])
    out = extract_skills_ngram_join(
        spark, df, "description", "jobid", PHRASES, text_phrases=TEXT_PHRASES
    )
    return out.select(
        "jobid", F.array_join("skills", "|").alias("skills")
    )


@register(
    "jobs_skills_native_demo",
    # Deterministic bounded subset: the 200 lowest jobids. Keeps the
    # literal-expression formulation oracle-pinned at FIXED cost at any
    # sf (its per-row cost is O(|dict| x |text|) by design — the
    # documented parity twin, not a scale path).
    f"""{_POSTINGS_CTE},
subset AS (
  SELECT jobid, description FROM postings WHERE description IS NOT NULL
  ORDER BY CAST(jobid AS BIGINT) LIMIT 200
),
prep AS (
  SELECT jobid, description,
         {skills_oracle_padded_sql('description')} AS __padded
  FROM subset
)
SELECT jobid,
       coalesce(array_to_string({skills_oracle_sql('description', PHRASES, TEXT_PHRASES, padded_expr='__padded')}, '|'), '') AS skills
FROM prep""",
    doc="The pure-Catalyst literal-array formulation of the skill "
    "matcher (filter over a plan-literal phrase array + per-phrase "
    "rlike TEXT channel) kept oracle-pinned on a deterministic "
    "200-row subset — bounded cost at any scale factor; the unbounded "
    "entries run the n-gram join.",
)
def jobs_skills_native_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        _postings(spark, sf_dir)
        .na.drop(subset=["description"])
        .orderBy(F.col("jobid").cast("long"))
        .limit(200)
    )
    return df.select(
        "jobid",
        F.array_join(
            extract_skills_native(F.col("description"), PHRASES, TEXT_PHRASES),
            "|",
        ).alias("skills"),
    )


# Planted fragments exercising the case-sensitive TEXT stratum's
# discrimination contract: ".NET"/"C#"/"API"/"ASP.NET"/"R" must fire
# only on their verbatim forms — "net income" and lowercase "api" must
# NOT fire them (they may still fire LOWER-stratum phrases, e.g.
# "api" -> the LOWER acronym list).
CS_FRAGMENTS = (
    " We ship on .NET and C# services.",
    " Strong API design; writes R, MATLAB.",
    " api development with python in azure",
    " Net income reporting dashboards.",
    " ASP.NET backend, DC/OS cluster admin.",
)


@register(
    "jobs_skills_case_sensitive",
    f"""{_POSTINGS_CTE},
planted AS (
  SELECT jobid,
         coalesce(description, '') ||
         (ARRAY[{", ".join("'" + fr.replace("'", "''") + "'" for fr in CS_FRAGMENTS)}])
           [CAST(jobid AS BIGINT) % 5 + 1] AS cs_text
  FROM postings
),
prep AS (
  SELECT jobid, cs_text,
         {skills_oracle_padded_sql('cs_text')} AS __padded
  FROM planted
)
SELECT jobid,
       coalesce(array_to_string({skills_oracle_sql(
           'cs_text', PHRASES, TEXT_PHRASES, padded_expr='__padded'
       )}, '|'), '') AS skills
FROM prep""",
    doc="Case-faithful TEXT-stratum matching (spaCy EntityRuler "
    "semantics, main.py:132-139): planted fragments pin that '.NET' "
    "does not match 'net income', 'API' does not match lowercase "
    "'api', and punctuated names (ASP.NET, C#, DC/OS) match verbatim "
    "with case preserved; matched entity text lowercased on output "
    "(main.py:139). Identical engine-portable regex strings run on "
    "Java regex (Spark rlike) and RE2 (DuckDB regexp_matches). Spark "
    "side = the scalable n-gram join + TEXT rlike channel.",
)
def jobs_skills_case_sensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.skills import (
        extract_skills_ngram_join,
    )

    df = _postings(spark, sf_dir)
    frag = F.element_at(
        F.array(*[F.lit(fr) for fr in CS_FRAGMENTS]),
        (F.col("jobid").cast("long") % 5 + 1).cast("int"),
    )
    planted = df.select(
        "jobid",
        F.concat(F.coalesce(F.col("description"), F.lit("")), frag).alias(
            "cs_text"
        ),
    )
    out = extract_skills_ngram_join(
        spark, planted, "cs_text", "jobid", PHRASES, text_phrases=TEXT_PHRASES
    )
    return out.select(
        "jobid", F.array_join("skills", "|").alias("skills")
    )


@register(
    "jobs_jobid_from_urn",
    f"{_POSTINGS_CTE} SELECT jobid, "
    "string_split('urn:li:jobPosting:' || jobid, ':')[-1] AS parsed_id "
    "FROM postings",
    doc="C4: urn.split(':')[-1] (main.py:100).",
)
def jobs_jobid_from_urn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _postings(spark, sf_dir)
    urn = F.concat(F.lit("urn:li:jobPosting:"), F.col("jobid"))
    return df.select("jobid", jobid_from_urn(urn).alias("parsed_id"))


@register(
    "jobs_skills_trie_udf",
    # same oracle as jobs_skills: the trie UDF must be value-identical
    _SKILLS_FULL_SQL,
    doc="U3: the Arrow-batched trie pandas UDF path (per-worker trie "
    "+ compiled TEXT-stratum regexes from a broadcast variable — "
    "where a real spaCy pipeline slots in), checked against the SAME "
    "oracle as the native jobs_skills entry, so the Python worker "
    "path itself is hash-verified.",
)
def jobs_skills_trie_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.skills import (
        extract_skills_udf,
    )

    df = _postings(spark, sf_dir).na.drop(subset=["description"])
    out = extract_skills_udf(
        spark, df, "description", PHRASES, text_phrases=TEXT_PHRASES
    )
    return out.select(
        "jobid", F.array_join("skills", "|").alias("skills")
    )


@register(
    "jobs_url_decode",
    f"{_POSTINGS_CTE} SELECT jobid, "
    "replace(replace(replace('Data%20Engineer%2Frole%3Dde%2F' || jobid, "
    "'%20', ' '), '%2F', '/'), '%3D', '=') AS decoded FROM postings",
    doc="C9: URL decode (main.py:61, urllib.parse.unquote — the "
    "'Data%20Engineer' -> 'Data Engineer' title decode). Spark side is "
    "the real F.url_decode; DuckDB has no url_decode, so the oracle "
    "mirrors this input's bounded escape set {%20,%2F,%3D} exactly via "
    "replace.",
)
def jobs_url_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _postings(spark, sf_dir)
    encoded = F.concat(F.lit("Data%20Engineer%2Frole%3Dde%2F"), F.col("jobid"))
    return df.select("jobid", F.url_decode(encoded).alias("decoded"))


@register(
    "jobs_filter_software",
    f"{_POSTINGS_CTE} SELECT jobid, title FROM postings "
    "WHERE NOT regexp_matches(title, 'Software')",
    doc="F3: negated substring filter; null titles dropped by 3VL "
    "(etl/job_scrape.py:63 pandas ==False parity).",
)
def jobs_filter_software(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _postings(spark, sf_dir)
    return df.filter(not_containing(F.col("title"), "Software")).select(
        "jobid", "title"
    )


@register(
    "jobs_drop_null_description",
    f"{_POSTINGS_CTE} SELECT jobid FROM postings WHERE description IS NOT NULL",
    doc="F1: drop_nulls(subset=[description]) BEFORE UDFs (main.py:152).",
)
def jobs_drop_null_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _postings(spark, sf_dir).na.drop(subset=["description"]).select("jobid")


@register(
    "jobs_union_batches",
    f"{_POSTINGS_CTE} SELECT jobid, job_type FROM postings "
    "WHERE jobid LIKE '1%' UNION ALL "
    "SELECT jobid, job_type FROM postings WHERE jobid LIKE '2%'",
    doc="J1: vertical concat of scraped batches (pl.concat, main.py:117).",
)
def jobs_union_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _postings(spark, sf_dir).select("jobid", "job_type")
    a = df.filter(F.col("jobid").startswith("1"))
    b = df.filter(F.col("jobid").startswith("2"))
    return a.unionByName(b)


@register(
    "jobs_transform_full",
    transform_postings_oracle_sql(
        PHRASES, pay_oracle_sql("description"), seniority_oracle_sql("title"),
        TEXT_PHRASES,
    ),
    doc="EP1 transform assembled (main.py:129-175), minus the "
    "nondeterministic date stamp; skills emitted '|'-joined for the "
    "driver canonicalizer (array cells aren't pandas-hashable).",
)
def jobs_transform_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = transform_postings(_postings(spark, sf_dir), PHRASES, TEXT_PHRASES)
    # current_timestamp: not oracle-comparable; array -> joined string.
    return out.drop("date").withColumn("skills", F.array_join("skills", "|"))


@register(
    "jobs_flagship_skill_demand",
    f"""
WITH postings AS ({POSTINGS_SQL}),
prep AS (
  SELECT job_type, description,
         {skills_oracle_padded_sql('description')} AS __padded
  FROM postings WHERE description IS NOT NULL
),
transformed AS (
  SELECT job_type,
         {skills_oracle_sql('description', PHRASES, TEXT_PHRASES,
                            padded_expr='__padded')} AS skills
  FROM prep
)
SELECT skill, job_type, count(*) AS n
FROM transformed, unnest(skills) AS u(skill)
GROUP BY skill, job_type
ORDER BY n DESC, skill ASC, job_type ASC
LIMIT 20
""",
    doc="Flagship: skills->groupBy->count->top-k (SURVEY §2.6); "
    "deterministic total order via (n desc, skill, job_type). Fully "
    "relational plan: token n-grams broadcast-joined to the phrase "
    "dict, per-doc dedup on (jobid, skill), count — no per-doc array "
    "materialization, no Python, dictionary-size-independent (see the "
    "variant benchmark in operators/skills.py).",
)
def jobs_flagship_skill_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings = _postings(spark, sf_dir).na.drop(subset=["description"])
    pairs = skill_match_pairs(
        spark, postings.select("jobid", "job_type", "description"),
        "description", ["jobid", "job_type"], PHRASES,
        text_phrases=TEXT_PHRASES,
    )
    return (
        pairs.groupBy(F.col("phrase").alias("skill"), F.col("job_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("skill"), F.asc("job_type"))
        .limit(20)
    )
