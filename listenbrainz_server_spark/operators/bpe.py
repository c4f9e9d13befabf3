"""Distributed byte-pair-encoding (BPE) tokenizer training.

The greedy merge loop every subword tokenizer starts from, run as an
iterative Spark job (the engine's ALS-shaped pattern: distributed
aggregate per iteration, one 1-row driver decision, lineage cut):

1. the corpus reduces ONCE to a word-frequency table — every later
   iteration works on vocab-sized data, never the corpus;
2. each iteration counts adjacent symbol pairs weighted by word
   frequency (keyed agg with map-side combine) and takes the single
   most frequent pair via ``first()`` — a LIMIT-1 driver pull, the
   same bounded shape as the model registry's latest-row lookup;
3. the winning pair merges into one symbol via a pure-expression
   left-to-right fold over each word's symbol array (no Python
   workers), and the symbol table is localCheckpoint'ed so iteration
   lineage doesn't stack.

Determinism: ties break on (pair_count DESC, left, right). The merge
fold is left-to-right non-overlapping ("aaa" + merge(a,a) → [aa, a]),
the standard BPE convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chars(col: Column) -> Column:
    """Split a string into single-character symbols (no empties)."""
    return F.filter(F.split(col, "(?!^)"), lambda s: s != "")


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent
    (left, right) symbols with their concatenation — a pure-expression
    fold; '' is a safe no-pending marker because symbols are never
    empty."""
    merged = left + right
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("prev"),
    )

    def step(acc, s):
        hit = (acc["prev"] == left) & (s == right)
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(
                F.when(acc["prev"] == "", acc["out"]).otherwise(
                    F.concat(acc["out"], F.array(acc["prev"]))
                )
            )
            .alias("out"),
            F.when(hit, F.lit("")).otherwise(s).alias("prev"),
        )

    def finish(acc):
        return F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(syms, zero, step, finish)


def bpe_train(
    wordfreq: DataFrame,
    word_col: str = "w",
    n_col: str = "n",
    n_merges: int = 8,
) -> list[tuple[int, str, str, str, int]]:
    """Greedy BPE merge sequence over a (word, frequency) table.

    Returns [(rank, left, right, merged, pair_count), ...] — at most
    ``n_merges`` entries, stopping early when no pair repeats.
    """
    spark = wordfreq.sparkSession
    syms = wordfreq.select(
        chars(F.col(word_col)).alias("syms"), F.col(n_col).alias("n")
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        s = F.col("syms")
        pairs = (
            syms.where(F.size(s) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(s) - 2),
                        lambda i: F.struct(
                            F.get(s, i).alias("l"), F.get(s, i + 1).alias("r")
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l"), F.col("r")
        ).first()
        if top is None or top.pair_count < 2:
            break
        merges.append((rank, top.l, top.r, top.l + top.r, int(top.pair_count)))
        syms = syms.select(
            merge_pair(F.col("syms"), top.l, top.r).alias("syms"), "n"
        ).localCheckpoint(eager=True)
    return merges

