"""The reference's one query — distributed word count, top-K — with its exact
semantics, as pure DataFrame expressions (no UDFs: tokenize/filter/count all
stay JVM-side inside whole-stage codegen).

Reference semantics reproduced here (SURVEY.md §1.3, citing /root/reference):

1. Tokenizer: ``line.split("[!.:;_,'@?()/° \\n\\t]+")``
   (WorkerSender.java:216). Note ``-``, ``"`` and digits are NOT delimiters.
2. Case-sensitive counting: the original token is counted; lowercasing
   happens only inside the partition hash (WorkerSender.java:135,218,230) —
   a physical placement detail Spark's own hash partitioning replaces.
3. Encode-drop filter: a token is shuffled only if ``encode()`` is non-empty
   (WorkerSender.java:138-145,221). ``encode()`` keeps characters whose
   lowercase codepoint is in ``[`, z]`` (0x60..0x7A), so digit-only or
   non-ASCII-only tokens ("123", "à") are silently dropped; mixed tokens
   ("été" → "t") survive.
4. Sort: count DESC, then word ASC (ValueThenKeyComparator.java:7-14).
5. Top-K: K=20 per worker (WorkerSender.java:26), K=7 sequential oracle
   (WordCounter.java:54), K=50 intended global (SimpleClient.java:46). The
   working reference never merges globally (dead code,
   SimpleClient.java:286-399); we implement the intended GLOBAL top-K.

Scale note: Spark turns this plan into scan → whole-stage-codegen'd
split+explode → partial hash-agg (map-side combine, which the reference
lacks — its worst inefficiency: one TCP write per token occurrence,
WorkerSender.java:230) → shuffle on word → final hash-agg → keep-filter →
TakeOrderedAndProject (distributed top-K, O(n log k), not the reference's
full sort). The keep-filter runs AFTER the final aggregate, once per
distinct word instead of once per token occurrence (~2M occurrences vs
~26k distinct words on a Zipf corpus of 5000 docs): the predicate reads
only the grouping key, so dropping a key's group after counting yields
the same rows as dropping its occurrences before. The cost is that the
dropped keys (empty, digit-only, non-ASCII-only tokens) ride through the
combiner and the shuffle — one row per key per map task, well under 1% of
shuffle bytes on natural text.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# WorkerSender.java:216 — the canonical (distributed-path) delimiter class.
TOKEN_DELIMITERS = "[!.:;_,'@?()/° \n\t]+"
# WordCounter.java:28 — the sequential oracle's divergent class (no °, no
# tab, no '+' so delimiter runs yield empty tokens). Kept for completeness.
ORACLE_DELIMITERS = "[!.:;_,'@?()/ ]"

# encode() keep-class (WorkerSender.java:138-145): chars whose lowercase
# codepoint c satisfies 0 <= (c+1-'a') <= 26, i.e. '`' (0x60) .. 'z' (0x7A).
_ENCODE_DROP_RE = "[^`-z]"


def tokenize(line: Column, delimiters: str = TOKEN_DELIMITERS) -> Column:
    """line -> array<string> of tokens (reference O5, a flatMap)."""
    return F.split(line, delimiters)


def encode_keeps(token: Column) -> Column:
    """The characters of ``token`` that survive encode() (lowercased)."""
    return F.regexp_replace(F.lower(token), _ENCODE_DROP_RE, "")


def keep_token(token: Column) -> Column:
    """Reference O7: token is counted iff encode(token) != "" (drops empty
    strings, digit-only and non-ASCII-only tokens). encode() is non-empty
    exactly when the lowercased token CONTAINS a char in [`-z], so a single
    rlike containment test suffices — cheaper than materializing the full
    regexp_replace per token (measured ~15% on the sf0.1 corpus).

    The word-count builders apply it to the aggregated (word, cnt) rows,
    not to the exploded tokens — see :func:`_keep_counted`."""
    return F.lower(token).rlike("[`-z]")


def _keep_counted(word: Column, cnt: Column) -> Column:
    """``keep_token(word)`` for a row AFTER the count aggregate.

    The keep predicate depends on the grouping key alone, so Catalyst's
    predicate pushdown would move a bare ``keep_token(word)`` back below the
    ``Aggregate`` — to once per token occurrence again. Guarding it with
    ``cnt > 0`` (always true for a counted group) makes the predicate
    reference an aggregate output, which pins it above the final
    ``HashAggregate``; a conjunction would not do, as pushdown splits
    conjuncts and moves the key-only one down."""
    return F.when(cnt > 0, keep_token(word))


def word_count(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """lines -> (word, cnt), reference semantics. Columns: word, cnt."""
    return (
        lines.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(_keep_counted(F.col("word"), F.col("cnt")))
    )


def word_count_topk(lines: DataFrame, k: int = 20, text_col: str = "value") -> DataFrame:
    """Global top-K by (cnt DESC, word ASC) — the intended global result of
    the reference pipeline (O1-O13 + the dead O14 merge)."""
    return word_count(lines, text_col).orderBy(F.desc("cnt"), F.asc("word")).limit(k)


def word_count_topk_per_partition(
    lines: DataFrame, k: int = 20, text_col: str = "value"
) -> DataFrame:
    """The reference's LITERAL working behavior: per-worker top-K printed to
    each worker's console (WorkerSender.java:286-296 — the global merge is
    dead code, SURVEY.md §1.3(6)). Reproduced per Spark input partition:
    columns (partition_id, word, cnt, rk), rk ≤ k within the partition.

    Partition-layout-dependent by definition (as the reference's output
    was machine-assignment-dependent) — so this is a library function with
    a containment property test, not an oracle-checked query: the global
    top-K over the union of per-partition counts equals the true top-K.
    """
    from pyspark.sql import Window

    per_part = (
        lines.withColumn("__pid", F.spark_partition_id())
        .select(F.col("__pid"), F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("__pid", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(_keep_counted(F.col("word"), F.col("cnt")))
    )
    w = Window.partitionBy("__pid").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        per_part.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(F.col("__pid").alias("partition_id"), "word", "cnt", "rk")
    )


def word_count_sequential_oracle(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """The reference's OTHER tokenizer — WordCounter.java:28 (sequential
    oracle path): split on the single-char class ``[!.:;_,'@?()/ ]`` (no
    ``+``, so delimiter runs yield counted empty tokens), NO encode filter,
    case-sensitive.

    Java ``String.split(regex)`` (limit=0) drops ALL trailing empty tokens
    and returns ``[input]`` when the regex never matches (even for "").
    Spark's ``split`` treats every limit<=0 as keep-trailing-empties, so
    Java semantics are rebuilt explicitly: strip the trailing delimiter run
    before splitting (equivalent to dropping trailing empties), with the
    no-match and all-delimiters cases special-cased. Columns: word, cnt."""
    col = F.col(text_col)
    stripped = F.regexp_replace(col, ORACLE_DELIMITERS + "+$", "")
    tokens = (
        F.when(~col.rlike(ORACLE_DELIMITERS), F.array(col))
        .when(stripped == "", F.array().cast("array<string>"))
        .otherwise(F.split(stripped, ORACLE_DELIMITERS))
    )
    return (
        lines.select(F.explode(tokens).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Pure-Python oracle (property-test target; mirrors the Java line-by-line
# semantics independently of both Spark and DuckDB).
# ---------------------------------------------------------------------------

import re as _re

_PY_SPLIT = _re.compile(r"[!.:;_,'@?()/° \n\t]+")


def py_encode(word: str) -> str:
    """Direct port of encode() (WorkerSender.java:129-148): lowercase, keep
    chars with (ord(c)+1-ord('a')) in [0,26], emit 2-digit codes."""
    out = []
    for ch in word.lower():
        v = ord(ch) + 1 - ord("a")
        if 0 <= v <= 26:
            out.append(f"{v:02d}")
    return "".join(out)


def py_word_count_sequential(lines: list[str], k: int | None = None) -> list[tuple[str, int]]:
    """Python port of WordCounter.java:28,34-41 (Java split semantics:
    trailing empty tokens dropped, interior/leading kept; '' yields [''])."""
    import re

    counts: Counter[str] = Counter()
    pat = re.compile(r"[!.:;_,'@?()/ ]")
    for line in lines:
        if pat.search(line) is None:
            toks = [line]  # Java: no match → whole input, even if ""
        else:
            toks = pat.split(line)
            while toks and toks[-1] == "":
                toks.pop()  # Java: ALL trailing empty strings removed
        for tok in toks:
            counts[tok] += 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return ordered[:k] if k is not None else ordered


def py_word_count(lines: list[str], k: int | None = None) -> list[tuple[str, int]]:
    counts: Counter[str] = Counter()
    for line in lines:
        for tok in _PY_SPLIT.split(line):
            if py_encode(tok):
                counts[tok] += 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return ordered[:k] if k is not None else ordered
