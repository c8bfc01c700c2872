"""Distributed BPE tokenizer training + encoding.

A training-data pipeline needs a tokenizer trained on the corpus itself;
the reference engine has no tokenizer trainer (its text surface stops at
regex/similarity functions, duckdb-6.cpp string function catalog), so this
is a beyond-reference operator in the same family as the dedup/quality
stages. The algorithm is standard byte-pair encoding (Sennrich et al.
2016, the sentencepiece/HF trainer shape), made Spark-first:

- ONE corpus-wide shuffle builds the word-frequency table
  (explode(tokens) → groupBy(word).sum) — the classic trainer
  optimization: merges are learned from DISTINCT words weighted by
  frequency, never from raw token streams. At 100 TB the distinct-word
  table is bounded (vocabulary growth is sublinear), cacheable, and every
  merge iteration runs on it alone; corpus size only touches the first
  aggregation.
- Each merge iteration is one groupBy over adjacent symbol pairs of the
  cached word table (weighted by word frequency) + a 1-row argmax
  collect; the chosen pair is applied with a pure-JVM F.aggregate scan
  (greedy left-to-right, non-overlapping — exactly the sequential BPE
  merge step). No Python on the hot path; plan lineage is cut with
  localCheckpoint every few merges so N merges do not stack N plans.
- Tie-breaking is DETERMINISTIC: (count DESC, left ASC, right ASC), so
  the merge table is reproducible across partitionings and cluster
  sizes — tests/test_bpe.py pins it against a pure-Python reference
  implementation.
- Encoding broadcasts the merge-rank table into an Arrow-batched kernel
  (the standard rank-greedy encode loop), memoized per SparkContext.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quackspark.functions.text import tokens
from quackspark.session import local_frame

#: end-of-word sentinel appended to every word's symbol sequence so merges
#: can distinguish word-final from word-internal contexts (Sennrich 2016)
EOW = "</w>"


def _merge_pair_expr(col: str, left: str, right: str) -> Column:
    """Greedy left-to-right, non-overlapping merge of the adjacent pair
    (left, right) inside an array<string> column — one F.aggregate scan,
    whole-stage-codegen friendly. The merged symbol does NOT re-merge
    with the following symbol in the same pass (matches the sequential
    BPE merge step)."""
    l_, r_ = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(s, x):
        return (
            F.when(s.pend.isNull(), F.struct(s.acc.alias("acc"), x.alias("pend")))
            .when(
                (s.pend == l_) & (x == r_),
                F.struct(
                    F.concat(s.acc, F.array(merged)).alias("acc"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(s.acc, F.array(s.pend)).alias("acc"),
                    x.alias("pend"),
                )
            )
        )

    def finish(s):
        return F.when(s.pend.isNull(), s.acc).otherwise(
            F.concat(s.acc, F.array(s.pend))
        )

    return F.aggregate(F.col(col), init, step, finish)


def word_frequencies(
    df: DataFrame, text_col: str, lowercase: bool = True
) -> DataFrame:
    """The trainer's only corpus-wide pass: (word, freq) with the word
    pre-split into its initial symbol sequence (characters + EOW)."""
    w = F.explode(tokens(text_col)).alias("word")
    out = df.select(w)
    if lowercase:
        out = out.select(F.lower(F.col("word")).alias("word"))
    return (
        out.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(EOW))
            ).alias("symbols"),
        )
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    *,
    lowercase: bool = True,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the ordered
    merge table [(left, right), ...] — rank = list position.

    Stops early when no pair reaches ``min_pair_count``. Deterministic:
    ties break on (count DESC, left ASC, right ASC)."""
    spark = df.sparkSession
    words = word_frequencies(df, text_col, lowercase).localCheckpoint(
        eager=True
    )
    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                        F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["cnt"] < min_pair_count:
            break
        best = pairs[0]["p"]
        merges.append((best["l"], best["r"]))
        words = words.withColumn(
            "symbols", _merge_pair_expr("symbols", best["l"], best["r"])
        )
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def merge_table_df(spark: SparkSession, merges: list[tuple[str, str]]) -> DataFrame:
    """The merge table as a DataFrame (rank, left, right, merged)."""
    rows = [(i, l_, r_, l_ + r_) for i, (l_, r_) in enumerate(merges)]
    return local_frame(
        spark, rows, "rank int, left string, right string, merged string"
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Sequential rank-greedy BPE encode of one word (the standard
    algorithm: repeatedly merge the LOWEST-rank adjacent pair)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for k in range(len(syms) - 1):
            r = ranks.get((syms[k], syms[k + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, k
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    lowercase: bool = True,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode a text column with a trained merge table: Arrow-batched
    kernel, merge ranks shipped once in the UDF closure (a few MB for a
    real vocabulary — never corpus-proportional), per-batch word cache so
    repeated words encode once per batch."""
    from quackspark.functions._udfmemo import memo_udf

    ranks = {(l_, r_): i for i, (l_, r_) in enumerate(merges)}

    def build():
        import pandas as pd

        @F.pandas_udf("array<string>")
        def _encode(texts):
            cache: dict[str, list[str]] = {}

            def enc(t):
                if t is None:
                    return None
                out: list[str] = []
                for w in t.split():
                    if lowercase:
                        w = w.lower()
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = _encode_word(w, ranks)
                    out.extend(got)
                return out

            return texts.map(enc)

        return _encode

    # content-keyed: id(ranks) could never hit (fresh dict per call) and
    # grew the per-context cache unboundedly (ADVICE r12)
    fn = memo_udf(
        ("bpe_encode", hash(tuple(map(tuple, merges))), lowercase), build
    )
    return df.withColumn(out_col, fn(F.col(text_col)))
