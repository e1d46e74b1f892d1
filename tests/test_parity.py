"""Reference-parity tests: tokenizer, encode-drop filter, ordering, top-K
(SURVEY.md §1.3) against the pure-Python oracle and hand-checked values."""

from __future__ import annotations

import os

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from slr207_mapreduce_spark.parity.wordcount import (
    py_encode,
    py_word_count,
    word_count,
    word_count_topk,
)

CORPUS_PUNCT = [
    "Home, cook!steal?fairy:dance;pop",
    "the The THE the",
    "123 456 123abc a-b c\"d",  # digit-only dropped; '-' and '\"' NOT delimiters
    "à é ° été naïve",  # accent-only dropped, mixed kept; ° is a delimiter
    "tab\there newline",
    "l'apostrophe d'accord (parens) ratio/test @at _under_",
]


def test_py_encode_reference_semantics():
    # WorkerSender.java:138-145: keep '`'..'z' after lowercase, 2-digit codes
    assert py_encode("abc") == "010203"
    assert py_encode("ABC") == "010203"
    assert py_encode("123") == ""
    assert py_encode("à") == ""
    assert py_encode("été") == "20"  # t -> 20; accents dropped (SURVEY §1.3(4))
    assert py_encode("`") == "00"
    assert py_encode("z") == "26"
    assert py_encode("a-b") == "0102"  # '-' dropped by encode, kept by tokenizer


def test_py_word_count_toy():
    lines = ["home cook steal", "fairy dance pop", "home home cook"]
    out = py_word_count(lines, k=3)
    assert out == [("home", 3), ("cook", 2), ("dance", 1)]


def test_spark_matches_python_oracle(spark):
    lines_df = spark.createDataFrame([(l,) for l in CORPUS_PUNCT], ["value"])
    got = sorted(
        [(r["word"], r["cnt"]) for r in word_count(lines_df).collect()],
        key=lambda kv: (-kv[1], kv[0]),
    )
    want = py_word_count(CORPUS_PUNCT)
    assert got == want
    # spot-check the semantics the corpus encodes
    d = dict(want)
    assert "123" not in d  # digit-only dropped
    assert "à" not in d  # non-ASCII-only dropped
    assert "été" in d  # mixed survives
    assert d["the"] == 2 and d["The"] == 1 and d["THE"] == 1  # case-sensitive
    assert "a-b" in d  # '-' is not a delimiter
    assert 'c"d' in d  # '"' is not a delimiter


def test_topk_ordering_count_desc_key_asc(spark):
    lines = ["b b a a c", "d d d"]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = [(r["word"], r["cnt"]) for r in word_count_topk(df, k=3).collect()]
    assert got == [("d", 3), ("a", 2), ("b", 2)]  # ValueThenKeyComparator order


# Edge tokens for the keep-filter, which runs on the aggregated (word, cnt)
# rows: each line's expected fate is in its comment.
EDGE_TOKENS = [
    "",                          # one '' token: dropped
    "  padded  line  ",          # '' tokens at the boundaries: dropped
    "123 4567 123",              # digit-only: dropped
    "à é ù à",                   # accented-only: dropped
    "été Été ÉTÉ été",           # mixed survive, counted case-sensitively
    "Word WORD word wOrD",       # mixed case: four distinct keys
    "\u0130 \u0130stanbul i",    # U+0130 lowers to 'i' + U+0307: kept
    "\u212a \u212aelvin k",      # U+212A KELVIN SIGN lowers to 'k': kept
    "° °x x° 12ab",              # ° is a delimiter; digits+letters kept
]


@pytest.mark.parametrize("parts", [1, 4, 16])
def test_edge_tokens_match_python_oracle_under_repartition(spark, parts):
    """Counting first and filtering the aggregated keys gives exactly the
    Python oracle's filter-then-count result, at any partitioning (design
    rule 4): 16 partitions over 9 lines leaves some of them empty."""
    df = spark.createDataFrame([(l,) for l in EDGE_TOKENS], ["value"]).repartition(parts)
    got = sorted((r["word"], r["cnt"]) for r in word_count(df).collect())
    assert got == sorted(py_word_count(EDGE_TOKENS))
    top = [(r["word"], r["cnt"]) for r in word_count_topk(df, k=5).collect()]
    assert top == py_word_count(EDGE_TOKENS, k=5)
    d = dict(got)
    for dropped in ("", "123", "4567", "à", "é"):
        assert dropped not in d
    assert d["été"] == 2 and d["Été"] == 1 and d["ÉTÉ"] == 1
    assert d["\u0130"] == 1 and d["\u212a"] == 1 and d["12ab"] == 1


# Example budget scales with $SPARK_GRAFT_HYP_MAX (a multiplier, default
# 1) so a periodic deep-fuzz pass — r07 verdict item 8 ran one at 10x,
# recorded in COVERAGE.md — needs no code edit. The @example corpus pins
# every §1.3 semantic corner permanently (digit-only and non-ASCII-only
# tokens that encode() drops, the mixed survivor, the ° delimiter,
# case-sensitivity, delimiter runs, non-delimiters - and "), so the
# load-bearing cases run on EVERY invocation regardless of random draw.
@settings(
    max_examples=25 * int(os.environ.get("SPARK_GRAFT_HYP_MAX", "1")),
    deadline=None,
)
@given(
    st.lists(
        st.text(
            alphabet="abcXYZ 123 à°!.,'()\t-\"_/",
            max_size=40,
        ),
        max_size=8,
    )
)
@example(["123 à °"])            # every token encode-dropped
@example(["été the The THE"])    # mixed survivor + case-sensitive keys
@example(["a!!..''((b", "''"])   # delimiter runs collapse under `+`
@example(["a-b", 'c"d', "x_y"])  # '-' and '"' are NOT delimiters; '_' is
@example(["°début", "fin°"])     # ° at token boundaries
@example([])                     # empty corpus
def test_property_python_vs_spark_tokenize(spark_global, lines):
    df = spark_global.createDataFrame([(l,) for l in lines] or [("",)], ["value"])
    got = sorted([(r["word"], r["cnt"]) for r in word_count(df).collect()])
    want = sorted(py_word_count(lines if lines else [""]))
    assert got == want


def test_sequential_oracle_tokenizer_java_split_semantics(spark):
    """WordCounter.java path: single-char class, empty tokens counted,
    Java trailing-empty-drop semantics (SURVEY.md §1.3(2))."""
    from slr207_mapreduce_spark.parity.wordcount import (
        py_word_count_sequential,
        word_count_sequential_oracle,
    )

    lines = [
        "a,,b",      # interior empty token counted
        ",a",        # leading empty counted
        "a,,",       # trailing empties dropped
        ",,,",       # all delimiters -> no tokens
        "",          # Java: "" -> [""] -> one empty token
        "x y,z",     # plain
        "tab\there", # tab is NOT a delimiter in this class
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = sorted(
        [(r["word"], r["cnt"]) for r in word_count_sequential_oracle(df).collect()]
    )
    want = sorted(py_word_count_sequential(lines))
    assert got == want
    d = dict(want)
    assert d[""] == 3  # one from "a,,b"? no: interior of a,,b(1) + ,a(1) + ""(1)
    assert "tab\there" in d


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark
