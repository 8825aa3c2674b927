"""Deduplication operators (north star, SURVEY §2.10): exact,
MinHash+LSH, SimHash, n-gram Jaccard. All shuffle-safe formulations —
candidate generation is always hash-bucketed, never a cross join, so
every step scales linearly with corpus size at fixed duplicate density.

Hashing is Spark-native ``xxhash64`` (JVM-side, codegen'd,
deterministic across runs and executors — seeds are column literals).
That makes MinHash/SimHash deterministic engine-wide but NOT
SQL-oracle-expressible (DuckDB's hash() is a different function), so
these register rows-only checks; the exact-Jaccard verification of the
candidates they produce IS oracle-checked (queries/text.py
docs_near_dup_jaccard), and unit tests assert the sketch properties
(similar docs collide, dissimilar don't).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineer_job_scraper_etl_spark.functions.strings import (
    normalize_ws_lower,
    ws_tokens,
)
from dataengineer_job_scraper_etl_spark.session import ensure_min_parallelism

# ---------------------------------------------------------------- exact


def dedup_exact_by_digest(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep min(id) per normalized-text digest; only (digest, id) pairs
    move through the shuffle."""
    norm = normalize_ws_lower(F.col(text_col))
    keep = (
        df.select(F.md5(norm).alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# -------------------------------------------------------------- shingles


def _token_count(text: Column) -> Column:
    """Whitespace token count under the same normalization ``shingles``
    uses. ``size(shingles(t, n)) > 0`` is equivalent to
    ``_token_count(t) >= n`` (and NULL text fails both) — but this one
    is a single cheap pass, so it is SAFE for Catalyst to push below a
    repartition exchange. Filtering on ``size(shingles(...))`` instead
    would push the entire shingle construction into the (narrow,
    few-partition) scan stage and then recompute it downstream —
    measured 2x the whole sketch cost at sf0.1."""
    return F.size(ws_tokens(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (distinct).

    Built-ins only: split -> sliding windows via transform over index
    range -> slice/join. Stays JVM-side.

    Documents with fewer than ``n`` tokens (incl. empty/null text)
    yield an EMPTY array: F.sequence's default step is -1 when
    start > stop, so an unguarded sequence(1, 0) would produce [1, 0]
    and slice() would then throw INVALID_PARAMETER_VALUE.START. The
    CASE branch is only evaluated when the token count is >= n.

    It keeps its own window form instead of ``strings.ngrams``: on an
    sf0.1 token column (4 cores, median of 5) the zip below took 0.39 s
    at the n=3 the sketches use against 0.48 s for transform/slice,
    while at n=16 it took 1.19 s against 0.49 s, so neither form serves
    both without slowing one side."""
    toks = ws_tokens(text)
    n_sh = F.size(toks) - F.lit(n - 1)
    # Windows via zip_with of n SHIFTED SLICES:
    # the old transform(sequence(1, n_sh), i -> array_join(slice(toks,
    # i, n))) referenced ``toks`` INSIDE the lambda, and Catalyst does
    # not CSE across lambda boundaries — the whole regexp+split
    # tokenization re-ran once per window (~len(toks) times per row;
    # measured 4.0 s of the 6.0 s sf0.1 sketch pass). Here ``toks``
    # appears only at top level (n slices + the size), where
    # projection-level subexpression elimination evaluates it once.
    # Window i of the zip is toks[i]+" "+toks[i+1]+...+" "+toks[i+n-1]
    # — byte-identical to array_join(slice(toks, i, n), " ") for the
    # full windows the old index range produced (no null/short
    # windows: every slice is length n_sh).
    parts = [F.slice(toks, j + 1, n_sh) for j in range(n)]
    windows = parts[0]
    for part in parts[1:]:
        windows = F.zip_with(
            windows, part, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(
        text.isNotNull(),  # null text -> null shingles (propagate)
        F.array_distinct(
            F.when(n_sh >= 1, windows).otherwise(
                F.array().cast(T.ArrayType(T.StringType()))
            )
        ),
    )


# --------------------------------------------------------------- minhash

# Mersenne prime 2^31-1 for the affine rehash family h_i(x) = (a_i*x+b_i)
# mod p. 31-bit coefficients keep a*x < 2^62: no long overflow, so the
# expression is safe under ANSI mode (which would throw on wrap).
_MERSENNE_31 = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a splitmix-style mix of
    the seed — plain Python ints, embedded as literals in the plan."""
    params = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        a = (z % (_MERSENNE_31 - 1)) + 1  # a != 0
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        b = x % _MERSENNE_31
        params.append((a, b))
    return params


def _signature_from_hashes(
    base_hashes: Column, num_hashes: int, seed: int
) -> Column:
    """All ``num_hashes`` running minima in ONE aggregate pass over the
    base-hash array (vs num_hashes independent array_min(transform(...))
    projections, which re-traverse the array once per hash function —
    measured ~2x wall cost for the whole LSH query at sf0.1).

    Per element: reduce x mod p once, then zip the (a, b) coefficient
    arrays (plan literals) into the 64 candidate hashes and fold them
    into the accumulator with least(). Empty input -> all-p sentinel
    signature (callers filter empty shingle sets out first)."""
    params = _hash_params(num_hashes, seed)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in params
        ]
    )
    p = F.lit(_MERSENNE_31)

    # Per-task work: the old step built
    # TWO 64-element arrays per shingle (the candidate-hash zip, then
    # the least() zip) and — because lambda bodies are not CSE'd —
    # re-evaluated pmod(x, p) inside the inner lambda once per hash
    # function. Hoisting the mod into one transform pass and zipping
    # the accumulator directly against the literal (a, b) struct array
    # does the identical arithmetic (pmod(a * pmod(x, p) + b, p),
    # least) in ONE zip per shingle with the mod taken once. Same
    # longs out, so signatures, band hashes, and every downstream
    # candidate set and oracle hash are unchanged.
    base_m = F.transform(base_hashes, lambda x: F.pmod(x, p))

    def step(acc: Column, xm: Column) -> Column:
        return F.zip_with(
            acc,
            ab,
            lambda m, s: F.least(
                m, F.pmod(s.getField("a") * xm + s.getField("b"), p)
            ),
        )

    init = F.array_repeat(p.cast("long"), num_hashes)
    return F.aggregate(base_m, init, step)


def banded_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """The narrow (no-shuffle) LSH front half: (id, sig, band_id,
    band_hash), ``bands`` rows per doc. Shared by the one-shot
    ``minhash_lsh_pairs`` and the pay-once bucketed band index
    (``write_band_index``)."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes

    # Fan a small input out to all cores BEFORE the CPU-heavy sketch
    # projection: a one-row-group parquet file scans as 1-2 partitions
    # and would pin the whole signature stage to 1-2 cores (measured
    # 12s -> ~4s at sf0.1 on local[32]). No-op at scale (never
    # repartitions down), and only the narrow (id, text) moves.
    # Docs too short for a single shingle have no sketch — keep them
    # out of banding (they would otherwise all share the sentinel
    # signature and collide in every band). The filter uses the cheap
    # token-count twin of the shingle-emptiness test so its inevitable
    # pushdown below the exchange stays cheap (see _token_count).
    src = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .filter(_token_count(F.col("__text")) >= shingle_n)
    )
    # Materialize the base shingle hashes in their own projection:
    # without this, Catalyst inlines `shingles(...)` into each of the 64
    # per-hash-function transforms and the (expensive, stringy) shingle
    # construction runs 64x per row (measured 10x slowdown at sf0.01).
    base = src.select(
        "id",
        F.transform(
            shingles(F.col("__text"), shingle_n), lambda s: F.xxhash64(s)
        ).alias("base"),
    )
    sig = base.select(
        "id",
        _signature_from_hashes(F.col("base"), num_hashes, seed).alias("sig"),
    )
    return sig.select(
        "id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.lit(bands)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                (b - 1) * rows_per_band + 1,
                                rows_per_band,
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def pairs_from_banded(banded: DataFrame, num_hashes: int = 64) -> DataFrame:
    """The LSH back half: self-join a (id, sig, band_id, band_hash)
    frame on its band bucket -> distinct candidate pairs with the
    signature-agreement Jaccard estimate. The join's only exchange
    requirement is hash-partitioning on (band_id, band_hash) — which a
    bucketed band index already satisfies ON DISK, making candidate
    generation exchange-free (tests/test_bucketed.py)."""
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y
                ),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "id_a", "id_b", F.round(est, 6).alias("est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs.

    shingle -> signature (narrow) -> explode to ``bands`` rows of
    (band_id, band_hash, id) -> self-join on the band bucket ->
    distinct pairs. The ONLY shuffle is on (band_id, band_hash); with
    r = num_hashes/bands rows per band, collision probability is the
    classic (1 - (1 - j^r)^bands) S-curve. Returns (id_a, id_b,
    estimated jaccard from signature agreement)."""
    banded_plan = banded_sketch(
        df, id_col, text_col, shingle_n, num_hashes, bands, seed
    )
    # Materialize the banded sketch once: AQE defeats static exchange
    # reuse here, so without this BOTH self-join branches recompute the
    # whole shingle->signature pipeline (measured 2x cost at sf0.1).
    # localCheckpoint truncates lineage; executor loss just recomputes.
    return pairs_from_banded(
        banded_plan.localCheckpoint(eager=False), num_hashes
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH candidates RE-SCORED by exact shingle Jaccard — the
    candidate->verify composition a production dedup actually ships
    (Lee et al. 2022 verify their suffix/NearDup candidates the same
    way): banding proposes, the exact set overlap disposes. Returns
    (id_a, id_b, jaccard_ppm) for pairs whose EXACT distinct-shingle
    Jaccard clears ``threshold``.

    Scale shape: the exact re-score touches ONLY candidate pairs (a
    near-dup-density-bounded set, never corpus-quadratic) — each
    candidate pair joins to the two docs' shingle posting lists by
    pair key, so the verify cost is |candidates| x |doc shingles|,
    while the corpus-wide work stays the one banding shuffle of
    ``minhash_lsh_pairs``. The verified output is an EXACT set
    property (estimator noise gone), which is what makes the result
    oracle-checkable: DuckDB reproduces the same pairs from first
    principles with a shingle-postings self-join, and the hash check
    then pins both the sketch family's recall on the fixture and the
    verifier's arithmetic. jaccard_ppm = round(inter / union * 1e6),
    BIGINT (the catalog's half-up ppm rule; inter/union are exact
    integers so the one IEEE division is engine-identical).

    BANDING IS MATCHED TO THE VERIFY THRESHOLD (an sf1 finding): the
    exact-set contract needs P(banding misses a pair at j >= threshold)
    ~ 0, and the candidate generator's default 16 bands x 4 rows has
    P(find) = 1-(1-j^4)^16 = 0.65 at j=0.5 and 0.988 at j=0.7 — at
    sf1 the tile near-dups sit at j ~ 0.7 and 56 of 329,600 true
    pairs were missed. With the same 64 hashes re-banded as 32 bands
    x 2 rows, P(find) = 1-(1-j^2)^32 = 0.9999 at j=0.5 (verified
    pair-set == exact relation at sf0.001/0.01/0.1 AND sf1). The
    price is candidate-side: band rows double and low-j collisions
    rise (P ~ 32*j^2, still density-bounded — a j=0.05 random pair
    collides w.p. ~8e-5), all disposed of by the exact re-score."""
    cands = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, num_hashes, bands, seed
    ).select("id_a", "id_b")
    # the shingle-postings frame feeds THREE consumers (a-side,
    # b-side, sizes) and sizes feeds two more (za, zb) — materialize
    # both, or the corpus tokenize+shingle explode re-runs ~5x (the
    # same index-materialization doctrine as bm25_scores)
    sh = df.select(
        F.col(id_col).alias("__vid"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__s"),
    ).localCheckpoint(eager=False)
    sz = sh.groupBy("__vid").agg(
        F.count(F.lit(1)).alias("__n")
    ).localCheckpoint(eager=False)
    a, b = sh.alias("va"), sh.alias("vb")
    inter = (
        cands.join(a, F.col("id_a") == F.col("va.__vid"))
        .join(
            b,
            (F.col("id_b") == F.col("vb.__vid"))
            & (F.col("va.__s") == F.col("vb.__s")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    za, zb = sz.alias("za"), sz.alias("zb")
    union_sz = F.col("za.__n") + F.col("zb.__n") - F.col("__i")
    # ppm as inter*1e6/union (ONE division, same op order as the
    # DuckDB oracle's round(c*1e6/u)) — (i/u)*1e6 would be a second
    # IEEE op whose last-ulp drift could flip the half-up rounding.
    return (
        inter.join(za, F.col("id_a") == F.col("za.__vid"))
        .join(zb, F.col("id_b") == F.col("zb.__vid"))
        .filter(F.col("__i") / union_sz >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__i") * 1e6 / union_sz, 0)
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


def write_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n_buckets: int = 64,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> None:
    """Persist the banded sketch as a table BUCKETED on (band_id,
    band_hash): the corpus pays the band shuffle exactly once, at
    ingest. Every subsequent candidate-generation pass
    (``lsh_pairs_from_band_index``) self-joins the bucketed layout
    with ZERO exchange — the 100 TB incremental-dedup layout: re-runs,
    parameter sweeps over the pair threshold, and batch-vs-index
    probes all reuse the on-disk partitioning instead of re-shuffling
    the corpus sketch per run."""
    from dataengineer_job_scraper_etl_spark.io import write_bucketed_table

    write_bucketed_table(
        banded_sketch(df, id_col, text_col, shingle_n, num_hashes, bands, seed),
        table,
        bucket_cols=("band_id", "band_hash"),
        n_buckets=n_buckets,
        sort_cols=("band_id", "band_hash"),
    )


def lsh_pairs_from_band_index(
    spark, table: str, num_hashes: int = 64
) -> DataFrame:
    """Candidate pairs from a bucketed band index (``write_band_index``):
    identical output to ``minhash_lsh_pairs`` over the same corpus and
    parameters, but the self-join reads the co-located on-disk buckets
    — the executed plan contains no Exchange below the join
    (asserted in tests/test_bucketed.py)."""
    return pairs_from_banded(spark.table(table), num_hashes)


# --------------------------------------------------------------- simhash


def _bit_votes(h: Column) -> Column:
    """xxhash64 value -> array<int> of 64 +-1 votes, MSB first.

    ``bin`` renders the two's-complement bit pattern as a string (the
    only overflow-free, ANSI-safe way to address individual bits —
    shiftright/shiftleft take Python-int distances only, and building
    the long back up would overflow on the sign bit)."""
    chars = F.slice(F.split(F.lpad(F.bin(h), 64, "0"), ""), 1, 64)
    return F.transform(
        chars, lambda c: F.when(c == "1", F.lit(1)).otherwise(F.lit(-1))
    )


def simhash64(text: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash over word shingles as a 64-char '0'/'1' string
    (MSB first) — the bit-string representation keeps every downstream
    op (hamming, chunk blocking) overflow-free and readable.

    For each bit position, sum the +-1 votes of each shingle's
    xxhash64 bit; sign of the sum -> bit. aggregate + zip_with only."""
    sh = shingles(text, shingle_n)
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, _bit_votes(h), lambda a, v: a + v),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")), ""
    )


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash bit-strings: count of
    positions where the chars differ."""
    return F.size(
        F.filter(
            F.zip_with(
                F.split(a, ""), F.split(b, ""), lambda x, y: x != y
            ),
            lambda d: d,
        )
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup: block on 4 x 16-bit chunks (pigeonhole: any
    pair within hamming distance 3 shares at least one exact 16-bit
    chunk), join within blocks, verify full hamming distance. Shuffle
    key is (chunk_id, chunk_value) — never all-pairs."""
    # Fan small inputs out to all cores before the sketch projection
    # (same rationale as minhash_lsh_pairs; no-op at scale). Shingle-
    # less docs all sketch to the zero vector and would pairwise
    # "collide" at hamming 0 — excluded up front via the cheap
    # token-count twin (pushdown-safe, see _token_count).
    src = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .filter(_token_count(F.col("__text")) >= shingle_n)
    )
    sh = src.select("id", simhash64(F.col("__text"), shingle_n).alias("sh"))
    chunks = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("sh"), k * 16 + 1, 16)
                    for k in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
        # materialized once for the same reason as the minhash banding:
        # the self-join would otherwise recompute the sketch per branch
    ).localCheckpoint(eager=False)
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            simhash_hamming(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------- incremental


def incremental_ingest_status(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pair_fn=None,
    neardup_threshold: float = 0.5,
) -> DataFrame:
    """Classify each NEW document against an existing corpus without
    reprocessing the corpus — the nightly-ingest rendering of dedup
    (a 100 TB corpus is built incrementally; re-running global dedup
    per batch is a non-starter):

        exact_dup  — normalized-text digest already present in the index
        near_dup   — near-duplicate candidate pair with an index doc
        new        — neither

    Returns (id, status) for every batch row. Exact matching is an
    equi-join on 16-byte digests (the index side ships digests only —
    at scale a materialized digest table / bloom filter, never bodies).
    Near-dup candidates come from ``pair_fn(batch, index) ->
    (id_a=batch id, id_b=index id)``; the default is MinHash+LSH over
    the two-sided union filtered to CROSS-side pairs, so candidates
    share (band, hash) buckets — the same banding economics as
    ``minhash_lsh_pairs``, never batch x index. The oracle entry
    (queries/corpusq.py:docs_incremental_ingest) injects the exact
    n-gram Jaccard generator instead, making every branch
    SQL-checkable. Precedence exact > near mirrors the pipeline's
    stage order (digests are authoritative; sketches are candidates).
    """
    norm = normalize_ws_lower(F.col(text_col))
    b_fp = batch.select(F.col(id_col), F.md5(norm).alias("__fp"))
    i_fp = index.select(F.md5(norm).alias("__fp")).distinct()
    exact = (
        b_fp.join(i_fp, "__fp", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(True))
    )

    if pair_fn is not None:
        pairs = pair_fn(batch, index)
    else:
        both = batch.select(id_col, text_col).unionByName(
            index.select(id_col, text_col)
        )
        # cand feeds the ab AND ba cross-side projections — without
        # materialization each one re-runs the full LSH banding chain
        cand = (
            minhash_lsh_pairs(both, id_col, text_col)
            .filter(F.col("est_jaccard") >= neardup_threshold)
            .localCheckpoint(eager=False)
        )
        b_ids = batch.select(F.col(id_col).alias("__bid"))
        i_ids = index.select(F.col(id_col).alias("__iid"))
        # keep only cross-side pairs, normalized to (batch, index)
        ab = cand.join(
            b_ids, cand["id_a"] == b_ids["__bid"], "left_semi"
        ).join(i_ids, cand["id_b"] == i_ids["__iid"], "left_semi")
        ba = cand.join(
            i_ids, cand["id_a"] == i_ids["__iid"], "left_semi"
        ).join(b_ids, cand["id_b"] == b_ids["__bid"], "left_semi")
        pairs = ab.select(
            F.col("id_a"), F.col("id_b")
        ).unionByName(
            ba.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
    near = (
        pairs.select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    return (
        batch.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact"), "exact_dup")
            .when(F.col("__near"), "near_dup")
            .otherwise("new")
            .alias("status"),
        )
    )
