"""Whole-domain checks of the shared text helpers in exprs.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.exprs import word_ngrams


def _ref(text: str | None, n: int) -> list[str]:
    if text is None:
        return []
    t = text.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


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
    if source == "rows":
        docs = spark.createDataFrame(rows, "id int, text string")
    else:
        # the windows projection sits above the Union, where the
        # optimizer pushes it into each branch
        half = len(rows) // 2
        docs = spark.createDataFrame(rows[:half], "id int, text string").unionByName(
            spark.createDataFrame(rows[half:], "id int, text string")
        )
    got = {
        r["id"]: r["g"]
        for r in docs.select("id", F.split("text", " ").alias("t"))
        .select("id", word_ngrams("t", n).alias("g"))
        .collect()
    }
    assert got == {i: _ref(text, n) for i, text in rows}
