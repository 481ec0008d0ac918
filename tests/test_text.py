"""The shingle kernel: one tokenizer per row, and the same shingles as
a plain-Python reference of its SQL."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.functions import text as T

# Java's `\s`, which the tokenizer's split('\\s+') uses.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

_TEXTS = [
    None,
    "",
    " \t\n  ",
    "one two",  # fewer than n tokens for n >= 3
    "Alpha beta Gamma",  # exactly n tokens for n = 3
    "alpha beta gamma delta epsilon",  # exactly n tokens for n = 5
    "the the the the the the",  # repeated tokens
    "a\tb\n\nc  d\r\ne\t\tF\ng",  # mixed tabs, newlines and runs
    "  leading and trailing space  ",
]


def _ref_shingles(text, n, null_size):
    """The shingle expression's result in Python. For NULL text the
    size guard reads ``size(NULL)``: -1 takes the empty branch; NULL
    (the ANSI default) falls through to ``sequence(1, 0)``, whose two
    positions slice a NULL array into two empty strings."""
    if text is None:
        return [] if null_size == -1 else ["", ""]
    toks = [t for t in _JAVA_WS.split(text.lower()) if t != ""]
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _walk(node, in_lambda=False):
    """(class name, inside a lambda body) for every node of a Catalyst
    expression tree."""
    name = node.getClass().getSimpleName()
    yield name, in_lambda
    children = node.children()
    for i in range(children.size()):
        child = children.apply(i)
        # a LambdaFunction's first child is its body; the rest are the
        # lambda's variables
        yield from _walk(child, in_lambda or (name == "LambdaFunction" and i == 0))


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_tokenizes_once_outside_every_lambda(spark, n):
    df = spark.createDataFrame([("a b c",)], "text STRING")
    analyzed = df.select(T.shingles(F.col("text"), n).alias("s"))._jdf.queryExecution().analyzed()
    nodes = list(_walk(analyzed.expressions().apply(0)))
    splits = [in_lambda for name, in_lambda in nodes if name == "StringSplit"]
    assert splits == [False], nodes


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_match_python_reference(spark, n):
    null_size = spark.sql("SELECT size(CAST(NULL AS ARRAY<STRING>)) AS s").first()["s"]
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "id INT, text STRING")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", T.shingles(F.col("text"), n).alias("s")).collect()
    }
    want = {i: _ref_shingles(t, n, null_size) for i, t in enumerate(_TEXTS)}
    assert got == want
