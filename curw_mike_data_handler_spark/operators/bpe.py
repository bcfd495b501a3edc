"""Byte-pair-encoding merge training as an iterative DataFrame job.

Canonical BPE training (Sennrich et al. 2016; the algorithm behind
GPT-2/RoBERTa vocabularies) alternates two steps: count adjacent
symbol pairs over the word-frequency table, then merge the most
frequent pair everywhere.  Both steps distribute:

* pair counting is a narrow zip of each word's symbol array against
  its own tail + ONE grouped sum on hash(l, r) — the candidate table
  is vocabulary-scale, never corpus-scale, because words collapse to
  (word, freq) first;
* the winning rule is a 1-row argmax (the only driver state — O(1)
  per round, same shape as kmeans centroids);
* applying the rule is a map-only higher-order fold over each symbol
  array (leftmost-greedy, matching tokenizers' semantics: in
  'a a a a' the rule (a,a) yields 'aa aa', and a token produced by a
  merge does not immediately re-merge within the same round).

No Python UDFs anywhere — the greedy fold is F.aggregate (JVM-side).
The per-round lineage is truncated with localCheckpoint so ``rounds``
can grow without the plan growing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.sources.local import local_frame


def _merge_rule(arr_col, left: str, right: str):
    """Leftmost-greedy application of one merge rule to a symbol
    array, as a JVM-side fold."""
    return F.aggregate(
        arr_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train_merges(
    docs: DataFrame,
    *,
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Train ``rounds`` BPE merges on the whitespace-word frequency
    table of a corpus → DataFrame (round, pair, cnt): the learned
    merge rules in order, with the pair's corpus frequency at the
    time it won.  Ties break lexicographically on the pair string so
    the result is engine-reproducible.

    Symbols start as single characters (no end-of-word marker — the
    simplified variant; the marker is one extra append if needed)."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "arr", F.split(F.trim(F.regexp_replace("word", "(.)", "$1 ")), " ")
        )
        .select("n", "arr")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, int]] = []
    for rnd in range(1, int(rounds) + 1):
        pairs = words.select(
            "n",
            F.explode(
                F.expr(
                    "zip_with(slice(arr, 1, size(arr) - 1),"
                    " slice(arr, 2, size(arr) - 1),"
                    " (x, y) -> struct(x AS l, y AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(
                F.desc("cnt"), F.concat_ws(" ", "l", "r").asc()
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rnd, f"{l} {r}", cnt))
        prev = words
        words = words.withColumn("arr", _merge_rule(F.col("arr"), l, r)).localCheckpoint()
        prev.unpersist()
    return local_frame(
        spark, merges, "round int, pair string, cnt long"
    )


def bpe_oracle_sql(table: str = "documents", text_col: str = "text", rounds: int = 3) -> str:
    """The DuckDB re-statement of ``bpe_train_merges``: the same
    greedy fold expressed as one recursive CTE per round (per-row
    iteration over symbol positions), chained ``rounds`` times.
    Generated programmatically because each round repeats the same
    three CTE shapes (pairs → argmax → fold)."""
    parts = [
        f"""s0 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               string_split(trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ') AS arr
        FROM (SELECT unnest(string_split({text_col}, ' ')) AS word FROM {table})
        WHERE len(word) > 0
        GROUP BY word
    )"""
    ]
    for i in range(1, int(rounds) + 1):
        p = i - 1
        parts.append(
            f"""p{i} AS (
        SELECT arr[j] AS l, arr[j + 1] AS r, n
        FROM s{p}, unnest(range(1, len(arr))) rr(j)
    ),
    m{i} AS (
        SELECT l, r, l || ' ' || r AS pair, CAST(sum(n) AS BIGINT) AS cnt
        FROM p{i} GROUP BY l, r
        ORDER BY cnt DESC, pair LIMIT 1
    ),
    st{i}(n, arr, i, acc) AS (
        SELECT n, arr, 1, CAST([] AS VARCHAR[]) FROM s{p}
        UNION ALL
        SELECT n, arr, i + 1,
               CASE WHEN len(acc) > 0
                         AND acc[len(acc)] = (SELECT l FROM m{i})
                         AND arr[i] = (SELECT r FROM m{i})
                    THEN acc[1:len(acc) - 1]
                         || [(SELECT l FROM m{i}) || (SELECT r FROM m{i})]
                    ELSE acc || [arr[i]] END
        FROM st{i} WHERE i <= len(arr)
    ),
    s{i} AS (SELECT n, acc AS arr FROM st{i} WHERE i = len(arr) + 1)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, pair, cnt FROM m{i}" for i in range(1, int(rounds) + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + f"\n    {selects}"
    )
