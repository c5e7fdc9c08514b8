"""Unit tests for the shared word n-gram builder (textops.word_ngrams_col):
outputs equal the DuckDB oracle form on edge-case rows, and the optimized
plans of its heaviest users never evaluate a text split inside a lambda."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from jcrawler_spark.functions import textops
from jcrawler_spark.operators import dedup, quality

TEXTS = [
    None,
    "",
    "one",
    "two words",
    "a b c d e f",
    "  leading and trailing  ",
    "\ttabs\tand\nnewlines\r\nmixed ",
    "nbsp\xa0stays inside\xa0one token here",
    "\xa0 edge\xa0nbsp \xa0",
    "repeat repeat repeat repeat",
]


def _duckdb_shingles(k: int) -> list:
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(TEXTS)))
    rows = con.execute(
        f"SELECT i, {dedup.shingles_sql('t', k)} FROM d ORDER BY i"
    ).fetchall()
    return [r[1] for r in rows]


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_shingles_match_duckdb(spark, k):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "i int, t string")
    got = [
        r["sh"]
        for r in df.select(
            "i",
            textops.word_ngrams_col(F.split("t", r"\s+"), k).alias("sh"),
        )
        .orderBy("i")
        .collect()
    ]
    assert got == _duckdb_shingles(k)
    via_dedup = [
        r["sh"]
        for r in df.select("i", dedup.shingles_col(F.col("t"), k).alias("sh"))
        .orderBy("i")
        .collect()
    ]
    assert via_dedup == got


def _lambdas_with_split(df) -> tuple[int, int]:
    """(LambdaFunction count, how many of them hold a StringSplit) over
    every expression of the frame's optimized logical plan."""
    counts = [0, 0]

    def kids(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def has_split(e) -> bool:
        if e.getClass().getSimpleName() == "StringSplit":
            return True
        return any(has_split(c) for c in kids(e))

    def walk_expr(e):
        if e.getClass().getSimpleName() == "LambdaFunction":
            counts[0] += 1
            counts[1] += has_split(e)
        for c in kids(e):
            walk_expr(c)

    def walk_plan(p):
        exprs = p.expressions()
        for i in range(exprs.size()):
            walk_expr(exprs.apply(i))
        for c in kids(p):
            walk_plan(c)

    walk_plan(df._jdf.queryExecution().optimizedPlan())
    return counts[0], counts[1]


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"w{i} shared words go here and there x{i % 3}") for i in range(6)],
        "doc_id long, text string",
    )


def test_split_never_inside_a_lambda(spark):
    docs = _docs(spark)
    # the detector itself: a per-position slice of the split inside the
    # lambda is exactly the hazard, and must be seen
    toks = F.split(F.col("text"), r"\s+")
    hazard = docs.select(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ).alias("g")
    )
    assert _lambdas_with_split(hazard)[1] == 1

    for df in (
        dedup.minhash_signatures(docs, k=3, n_perm=8),
        quality.cross_dup_ngram_stats(docs, n=4),
    ):
        n_lambdas, n_bad = _lambdas_with_split(df)
        assert n_lambdas > 0
        assert n_bad == 0
