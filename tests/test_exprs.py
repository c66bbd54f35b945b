"""Whole-domain checks of the shared text helpers in exprs.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.exprs import word_bigrams, word_ngrams


def _ref(text: str | None, n: int) -> list[str]:
    if text is None:
        return []
    t = text.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def _pairs_ref(text: str | None) -> list[tuple[str, str]]:
    if text is None:
        return []
    t = text.split(" ")
    return [(a, b) for a, b in zip(t, t[1:]) if a != "" and b != ""]


def _docs(spark, rows: list, source: str):
    """``rows`` as an (id, text) frame, or as the union of its two
    halves, where the optimizer pushes a projection above the Union
    into each branch."""
    if source == "rows":
        return spark.createDataFrame(rows, "id int, text string")
    half = len(rows) // 2
    return spark.createDataFrame(rows[:half], "id int, text string").unionByName(
        spark.createDataFrame(rows[half:], "id int, text string")
    )


def _texts(n: int) -> list[str | None]:
    """NULL, "", 1 to n+1 distinct tokens, n+1 copies of one token, and
    empty tokens from doubled spaces."""
    return [
        None,
        "",
        *(" ".join(f"w{j}" for j in range(k)) for k in range(1, n + 2)),
        " ".join(["x"] * (n + 1)),
        "  ".join(f"w{j}" for j in range(n)),
    ]


@pytest.mark.parametrize("source", ["rows", "union"])
@pytest.mark.parametrize("n", [2, 3, 5, 8])
def test_word_ngrams_matches_python_reference(spark, n, source):
    rows = list(enumerate(_texts(n)))
    got = {
        r["id"]: r["g"]
        for r in _docs(spark, rows, source)
        .select("id", F.split("text", " ").alias("t"))
        .select("id", word_ngrams("t", n).alias("g"))
        .collect()
    }
    assert got == {i: _ref(text, n) for i, text in rows}


@pytest.mark.parametrize("source", ["rows", "union"])
def test_word_bigrams_matches_python_reference(spark, source):
    # NULL, "", 0 to 3 tokens, repeated pairs, and empty tokens at the
    # start, the end and between two words
    texts = [None, "", "a", "a b", "a b c", "a b a b", " a", "a ", "a  b", " ", "a b  c d"]
    rows = list(enumerate(texts))
    got = {
        r["id"]: [(p["w1"], p["w2"]) for p in r["g"]]
        for r in _docs(spark, rows, source)
        .select("id", F.split("text", " ").alias("t"))
        .select("id", word_bigrams("t").alias("g"))
        .collect()
    }
    assert got == {i: _pairs_ref(text) for i, text in rows}
    # no text splits to zero tokens; an empty array is the other way in
    empty = F.array().cast("array<string>")
    assert spark.range(1).select(word_bigrams(empty).alias("g")).first()["g"] == []
