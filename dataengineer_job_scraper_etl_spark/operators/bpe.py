"""Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) — the
missing half of the tokenizer story: queries/text.py counts tokens
under a FIXED BPE-ish segmentation; this module LEARNS the merge table
from the corpus, the way tokenizer training actually runs over
pre-training data.

The scale design is the classic Sennrich reduction: BPE statistics
depend only on the corpus's DISTINCT-WORD FREQUENCY TABLE, so the one
corpus-sized operation is a single tokenize+explode+groupBy producing
(word, count) — every merge iteration after that runs over the
vocabulary table (≤ a few million rows for any real corpus, vs
billions of documents). Per round:

- pair counting is array-side (zip_with over two slices of the symbol
  array, no per-symbol explode of the corpus) followed by an
  explode+sum over the VOCAB — a partial-aggregated shuffle of
  pair-count rows;
- the argmax merge is a 1-row collect (count desc, pair asc — a total
  order, so training is deterministic on any engine or partitioning);
- applying the merge rewrites each word's symbol array with a greedy
  left-to-right scan. That scan is inherently sequential per word, so
  it runs as an Arrow-batched pandas UDF — over the vocabulary table
  only, never the corpus (the documented bounded-table Python path,
  same policy as operators/skills.py's trie matcher);
- the vocab is localCheckpoint'ed each round to truncate the lineage
  (same guard as operators/components.py's label propagation).

Total cost: one corpus scan + n_merges vocabulary-sized jobs.
Reference parity: the reference has no tokenizer training (its NLP is
a fixed spaCy matcher — etl/transform.py:23-27); this is part of the
added LLM-pipeline toolkit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.strings import ws_tokens

END_OF_WORD = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, c): the ONE corpus-sized pass. Map-side partial counts
    make the shuffle vocabulary-sized."""
    return (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def word_symbols(vocab: DataFrame) -> DataFrame:
    """(word, c, syms): initial symbol arrays — characters plus the
    end-of-word marker that lets merges distinguish suffixes."""
    return vocab.select(
        "word",
        "c",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("syms"),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(pair, pair_count): adjacent-symbol bigrams weighted by word
    frequency, counted array-side (zip_with of syms[:-1] with syms[1:])
    so the explode is per-PAIR over the vocab, not per-symbol over the
    corpus. NOTE: counts every occurrence, including overlaps ('aaa'
    contributes 2 to ('a','a')) — the standard Sennrich counting."""
    n = F.size(F.col("syms"))
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, n - 1),
        F.slice(F.col("syms"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        vocab.filter(n >= 2)
        .select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
    )


def _merge_udf(a: str, b: str):
    """Arrow-batched greedy merge of one (a, b) pair: left-to-right,
    non-overlapping — 'aaa' with merge (a,a) becomes ['aa','a']."""
    merged = a + b

    @F.pandas_udf("array<string>")
    def apply(syms: pd.Series) -> pd.Series:
        def one(s):
            out, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        return syms.map(one)

    return apply


def learn_bpe_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train ``n_merges`` BPE merges; returns (merge list in learned
    order, final vocab frame (word, c, syms)). Driver traffic is one
    1-row collect per round; ties broken (count desc, pair asc) so the
    merge table is a pure function of the corpus."""
    vocab = word_symbols(word_counts(docs, text_col)).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # every word fully merged
        a, b = top[0]["pair"].split(" ", 1)
        merges.append((a, b))
        prev = vocab
        vocab = vocab.withColumn(
            "syms", _merge_udf(a, b)(F.col("syms"))
        ).localCheckpoint()
        # The eager checkpoint above materialized the new round, so the
        # previous round's blocks can go — otherwise n_merges copies of
        # the vocab accumulate in the block manager.
        prev.unpersist()
    return merges, vocab


def reference_bpe(word_counts: dict[str, int], n_merges: int):
    """Single-process reference implementation (the textbook Sennrich
    loop) for differential tests: identical counting (overlaps
    included), identical greedy apply, identical tie-break."""
    vocab = {
        w: [*list(w), END_OF_WORD] for w in word_counts
    }
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )[0]
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _segment_udf(merges: list[tuple[str, str]]):
    """Arrow-batched tokenizer APPLY: segment a word under the learned
    merge table — each merge applied greedily in LEARNED ORDER
    (Sennrich apply; reproduces training's segmentation exactly)."""

    @F.pandas_udf("int")
    def seg_len(words: pd.Series) -> pd.Series:
        def one(w):
            syms = [*list(w), END_OF_WORD]
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        return words.map(one).astype("int32")

    return seg_len


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bpe_tokens): corpus token counts under a LEARNED merge
    table — the serve half of tokenizer training (the number every
    packing / budget / mixture stage consumes). Same Sennrich
    reduction as training: the corpus contributes one explode into
    per-doc word rows; the Python segmenter runs over the DISTINCT
    words only, and per-doc totals come from a join + sum (both JVM).
    The merge table rides inside the UDF closure — merges are
    driver-bounded (n_merges entries) by construction."""
    flat = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(ws_tokens(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    # materialize the exploded words ONCE: `flat` feeds both the
    # distinct-word segmenter and the join-back, and those are
    # different subplans (one carries __id), so without this the
    # corpus would be scanned and tokenized twice — the dominant
    # cost at scale.
    flat = flat.localCheckpoint(eager=False)
    seg = flat.select("word").distinct().select(
        "word", _segment_udf(merges)(F.col("word")).alias("n_sub")
    )
    counts = (
        flat.join(seg, "word")
        .groupBy("__id")
        .agg(F.sum("n_sub").cast("long").alias("__n"))
    )
    # left join from the full id set: a doc whose text is empty or
    # whitespace-only contributes no words, and an inner-join result
    # would silently LOSE it — downstream packing/budget joins need
    # an explicit 0, not an absent row.
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(counts, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__n"), F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
