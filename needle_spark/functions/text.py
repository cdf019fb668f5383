"""Text tokenization and related scalar functions.

The tokenizer mirrors the reference's BM25 pipeline (/root/reference/
src/hybrid.rs:239-268): lowercase -> split on non-alphanumeric -> drop
tokens shorter than 2 chars -> drop stop words -> (optionally) Porter
stem.  The stop-word list is ported verbatim (hybrid.rs:238-247).

Everything except Porter stemming is pure Catalyst (split/filter/
transform) so tokenization of a 100 TB corpus stays JVM-side and
column-pruned; stemming (inherently procedural) is an Arrow-batched
pandas UDF, off by default — the oracle-checked surface uses the
unstemmed pipeline, stemming is exercised by unit tests.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from needle_spark.functions.distance import col_sql

# ported verbatim from hybrid.rs:238-247 (duplicates in the source
# collapse in the set)
STOP_WORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "that", "the", "to", "was",
    "were", "will", "with", "this", "but", "they", "have", "had", "what",
    "when", "where", "who", "which", "why", "how",
)

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# every token the tokenizer can emit matches this
TOKEN_RE = re.compile("[a-z0-9]*")


def let_expr(bound: Column, body) -> Column:
    """Bind an expensive subexpression to a lambda variable at the
    Column level: evaluate `bound` ONCE per row and pass it to `body`.

    Catalyst has no let-binding and does not hoist loop-invariant
    subexpressions out of interpreted higher-order-function lambdas, so
    an expression like transform(seq, i -> slice(REGEX(text), i, n))
    re-runs REGEX per element.  Wrapping the expensive input as a
    1-element array and applying `body` through transform() makes the
    lambda variable the materialization point — same values, one
    evaluation (measured 2x on the sliding-window chunker)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def _tokenize_sql(expr: str, split_fn: str, filter_fn: str,
                  stop_words: tuple[str, ...] | None, min_len: int) -> str:
    """The tokenizer as SQL text, shared by the Spark and DuckDB twins.
    Only stop words a token can equal ([a-z0-9]*) are kept, so nothing
    but engine-safe text reaches the SQL."""
    out = (f"{filter_fn}({split_fn}(lower({expr}), '{TOKEN_SPLIT_RE}'), "
           f"t -> length(t) >= {int(min_len)})")
    if stop_words:
        # NOT IN over > 10 literals optimizes to an InSet hash lookup
        # (O(1) per token) vs the O(|stop words|) array_contains linear
        # probe — ~25% off the whole tokenize pass, value-identical
        sw = sorted(w for w in set(stop_words) if TOKEN_RE.fullmatch(w))
        if sw:
            lst = ", ".join(f"'{w}'" for w in sw)
            out = f"{filter_fn}({out}, t -> t NOT IN ({lst}))"
    return out


def tokenize_expr(
    col: Column | str,
    stop_words: tuple[str, ...] | None = STOP_WORDS,
    min_len: int = 2,
) -> Column:
    """tokens(text) as array<string>, matching hybrid.rs tokenize()
    (sans stemming).  Pure built-in functions -> whole plan stays
    JVM-side; built as one SQL string -> one JVM call.  `col` is a
    column name or a plain `F.col` reference."""
    return F.expr(_tokenize_sql(col_sql(col), "split", "filter",
                                stop_words, min_len))


def duckdb_tokenize_sql(
    expr: str,
    stop_words: tuple[str, ...] | None = STOP_WORDS,
    min_len: int = 2,
) -> str:
    """DuckDB twin of tokenize_expr for oracle queries."""
    return _tokenize_sql(expr, "string_split_regex", "list_filter",
                         stop_words, min_len)


def tokenize_py(
    text: str,
    stop_words: tuple[str, ...] | None = STOP_WORDS,
    min_len: int = 2,
) -> list[str]:
    """Driver-side tokenizer for (small) query strings — same semantics."""
    sw = set(stop_words or ())
    toks = re.split(TOKEN_SPLIT_RE, text.lower())
    return [t for t in toks if len(t) >= min_len and t not in sw]


# --------------------------------------------------------------- Porter ---

def porter_stem(word: str) -> str:
    """Porter stemming algorithm (M.F. Porter, 1980) — standard public
    algorithm, implemented from the published definition.  Used by the
    optional `stem=True` tokenizer mode to mirror hybrid.rs's
    rust_stemmers::Algorithm::English."""
    if len(word) <= 2:
        return word
    w = word

    def cons(s: str, i: int) -> bool:
        ch = s[i]
        if ch in "aeiou":
            return False
        if ch == "y":
            return i == 0 or not cons(s, i - 1)
        return True

    def measure(s: str) -> int:
        # number of VC sequences
        m, i, n = 0, 0, len(s)
        while i < n and cons(s, i):
            i += 1
        while i < n:
            while i < n and not cons(s, i):
                i += 1
            if i >= n:
                break
            m += 1
            while i < n and cons(s, i):
                i += 1
        return m

    def has_vowel(s: str) -> bool:
        return any(not cons(s, i) for i in range(len(s)))

    def double_cons(s: str) -> bool:
        return len(s) >= 2 and s[-1] == s[-2] and cons(s, len(s) - 1)

    def cvc(s: str) -> bool:
        if len(s) < 3:
            return False
        if not (cons(s, len(s) - 3) and not cons(s, len(s) - 2) and cons(s, len(s) - 1)):
            return False
        return s[-1] not in "wxy"

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and has_vowel(w[:-2]):
        w = w[:-2]
        flag = True
    elif w.endswith("ing") and has_vowel(w[:-3]):
        w = w[:-3]
        flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif measure(w) == 1 and cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
        ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
        ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
        ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 0:
                w = stem + rep
            break
    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 0:
                w = stem + rep
            break
    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 1:
                if suf == "ion" and not stem.endswith(("s", "t")):
                    break
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = measure(stem)
        if m > 1 or (m == 1 and not cvc(stem)):
            w = stem
    # step 5b
    if double_cons(w) and w.endswith("l") and measure(w) > 1:
        w = w[:-1]
    return w


def stem_tokens_udf():
    """pandas UDF: array<string> -> array<string> with Porter stemming.
    Arrow-batched; only needed when stem=True parity with the reference's
    stemmed BM25 index is required."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _stem(s: pd.Series) -> pd.Series:
        return s.apply(lambda toks: [porter_stem(t) for t in toks] if toks is not None else None)

    return _stem
