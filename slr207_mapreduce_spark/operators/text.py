"""Text-analysis operators for training-data pipelines (BASELINE.json
north_star): language ID, quality scoring, token counting, fingerprinting.

All pure column expressions (JVM-side, codegen'd) — the reference's
tokenizer/encode map stage (O5/O6) generalized. Ratios are int/int double
divisions (deterministic); hashes are md5-portable so the DuckDB oracle
matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import portable_hash64, portable_hash64_sql

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately disjoint so the argmax is meaningful.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "nicht"),
    "es": ("el", "los", "que", "por", "con"),
    "fr": ("le", "les", "et", "des", "une"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholder forms
}
LANGS = tuple(sorted(LANG_STOPWORDS))  # fixed order for deterministic argmax

# BPE-ish tokenizer: word pieces, numbers, or single non-space symbols —
# the shape GPT-style byte-pair pre-tokenizers use.
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_ws(text_col: str = "text") -> Column:
    """Whitespace tokens (non-empty).

    ``array_remove(.., '')`` rather than ``filter(.., t -> length(t) > 0)``:
    the same array (a token has length 0 only when it is ``''``), but
    ``array_remove`` is whole-stage codegen'd while the lambda ``filter`` is
    interpreted per row, which cost every caller's scan stage (chunking,
    text statistics) a per-document interpreter call."""
    return F.array_remove(F.split(F.col(text_col), r"\s+"), "")


def lang_hit_count(text_col: str, lang: str) -> Column:
    """Number of whitespace tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(tokens_ws(text_col), lambda t: F.array_contains(sw, t))).cast(
        "long"
    )


def lang_hit_count_sql(text_col: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(list_filter(string_split_regex({text_col}, '\\s+'), "
        f"t -> length(t) > 0), t -> list_contains([{words}], t))) AS BIGINT)"
    )


def predicted_lang(hit_cols: dict[str, Column]) -> Column:
    """Deterministic argmax over per-language hit counts: highest count wins,
    ties broken by language code ascending (LANGS is sorted)."""
    best = None
    for lang in LANGS:
        c = hit_cols[lang]
        if best is None:
            best = F.struct(c.alias("score"), F.lit(lang).alias("lang"))
        else:
            cand = F.struct(c.alias("score"), F.lit(lang).alias("lang"))
            # keep `best` unless cand strictly beats it (so earlier == smaller
            # lang code wins ties)
            best = F.when(cand.getField("score") > best.getField("score"), cand).otherwise(
                best
            )
    return best.getField("lang")


def predicted_lang_sql(hit_exprs: dict[str, str]) -> str:
    """CASE-chain argmax mirroring :func:`predicted_lang` (first max in
    LANGS order wins)."""
    conds = []
    for i, lang in enumerate(LANGS):
        others = [
            f"{hit_exprs[lang]} >= {hit_exprs[o]}" for o in LANGS[i + 1 :]
        ] + [f"{hit_exprs[lang]} > {hit_exprs[o]}" for o in LANGS[:i]]
        cond = " AND ".join(others) if others else "TRUE"
        conds.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(conds) + f" ELSE '{LANGS[-1]}' END"


def rolling_fingerprint(text_col: str = "text") -> Column:
    """Order-sensitive polynomial rolling hash over whitespace tokens:
    acc = (acc * 131 + token_hash) mod (2^31 - 1). Sequential fold — same
    in both engines; int64 intermediate never overflows (acc < 2^31,
    acc*131 + h < 2^39)."""
    p = (1 << 31) - 1
    th = lambda t: portable_hash64(t) % F.lit(p)  # noqa: E731
    return F.aggregate(
        tokens_ws(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(131) + th(t)) % F.lit(p),
    )


def rolling_fingerprint_sql(text_col: str = "text") -> str:
    p = (1 << 31) - 1
    h = portable_hash64_sql("t", seed=0)
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split_regex({text_col}, '\\s+'), "
        f"t -> length(t) > 0), t -> {h} % {p})), "
        f"(acc, x) -> (acc * 131 + x) % {p})"
    )
