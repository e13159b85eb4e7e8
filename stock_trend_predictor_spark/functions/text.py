"""Text-analysis scalar expressions for the documents table
(north-star extensions, SURVEY §7 phase 5).

Everything here is pure Catalyst expression (split / transform /
aggregate higher-order functions) — JVM-side, no Python in the hot
path, so the same code runs unchanged on a 100 TB corpus.

Cross-engine hash base: both Spark and DuckDB expose md5() with
identical hex output, so a shared 60-bit (or 28-bit) integer hash is
derived by parsing a hex prefix. Spark: conv(substr(md5(s),1,n),16,10);
DuckDB: CAST('0x'||substr(md5(s),1,n) AS BIGINT). This is what lets
MinHash/SimHash have exact SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: str | Column) -> Column:
    """Deterministic 60-bit integer hash of a string (md5-hex prefix)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash28(col: str | Column) -> Column:
    """28-bit hash — small enough for overflow-free (a*h+b) % p."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")


def hash28_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 7)) AS BIGINT)"


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def word_ngrams(col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (column name in).

    ``transform(sequence(...))`` over the token array — the classic
    shingle expansion without an explode, so no row blow-up before the
    MinHash reduction. Documents shorter than n words yield one
    shingle of all their words: ``try_element_at`` yields NULL out of
    range even under ANSI mode (plain element_at would throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT), and concat_ws skips the null
    slots — same behavior as DuckDB's out-of-range list indexing.
    """
    toks = f"split({col}, ' ')"
    concat = ", ".join(f"try_element_at({toks}, i + {j})" for j in range(n))
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', {concat})))"
    )


def word_ngrams_sql(expr: str = "text", n: int = 3) -> str:
    """DuckDB mirror of :func:`word_ngrams`."""
    toks = f"string_split({expr}, ' ')"
    concat = ", ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"list_distinct([concat_ws(' ', {concat}) "
        f"FOR i IN range(1, greatest(len({toks}) - {n - 1}, 1) + 1)])"
    )


#: Language marker stopwords for the n-gram/stopword language-ID
#: heuristic. Deliberately tiny and deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "de", "los"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish markers
}

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
#: Kept to constructs with identical semantics in Java regex (Spark)
#: and RE2 (DuckDB).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def marker_score(tokens_col: str, markers: tuple[str, ...]) -> Column:
    """Fraction of a doc's tokens that are in the marker list.

    Takes the NAME of a bound token-array column (not raw text): the
    caller splits once into a projected column and every language's
    score references it — inlining split() here would re-tokenize the
    document once per score term (see with_shingle_hashes for the
    measured cost of that anti-pattern).
    """
    in_list = ", ".join(f"'{m}'" for m in markers)
    return F.expr(
        f"size(filter({tokens_col}, t -> t IN ({in_list})))"
        f" / size({tokens_col})"
    )


def marker_score_sql(expr: str, markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    toks = f"string_split({expr}, ' ')"
    return (
        f"CAST(len(list_filter({toks}, t -> t IN ({in_list}))) AS DOUBLE)"
        f" / len({toks})"
    )


def normalized_text(col: str | Column = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse runs of spaces, trim."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def normalized_text_sql(expr: str = "text") -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), '[^a-z0-9 ]', '', 'g'),"
        f" ' +', ' ', 'g'))"
    )


def zipf_tail_token(doc_id: str | Column = "doc_id") -> Column:
    """A deterministic Zipf-tailed vocabulary token derived from the
    document id: ``zt{j}`` where the level j >= 0 is drawn with
    P(j = t) = 2**-(t+1) under the xxhash64 uniformizer, so
    df(zt_j) ~ N * 2**-(j+1) — a geometric frequency ladder whose
    deepest populated levels have df near any fixed top_k at EVERY
    corpus size (the synthetic sf tables' real vocabulary has a df
    floor of ~3% of the corpus, so without this no natural rare term
    exists at scale; r9 verdict item 6). A BM25 probe that appends
    this token to each document at fold time makes the rarest
    df>=top_k term a generator-native one — the engaged two-sided
    pruned read then demonstrates without a specially-folded marker
    batch. The formula is a pure function of doc_id, so a replicated
    documents table can materialize it as a column with identical
    values."""
    col = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    u = F.pmod(F.xxhash64(col), F.lit(1 << 20)).cast("double")
    j = F.floor(F.log2(F.lit(float(1 << 20)) / (u + F.lit(1.0))))
    return F.concat(F.lit("zt"), j.cast("string"))
