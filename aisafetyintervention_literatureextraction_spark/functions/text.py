"""Column-level scalar text functions (SURVEY.md §2.8, all JVM-side).

Everything here is a composition of built-in ``pyspark.sql.functions``
— stays inside WholeStageCodegen; no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def snake_case(col: Column | str) -> Column:
    """C9 — node-name normalization per the reference prompt rules
    (reference EXTRACTION_PROMPT_TEMPLATE / prompts.py:94-105:
    snake_case, lowercase, no punctuation runs, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(F.trim(c))
    c = F.regexp_replace(c, r"[^a-z0-9]+", "_")
    return F.regexp_replace(c, r"^_+|_+$", "")


def node_text(
    name: Column, ntype: Column, aliases: Column, description: Column,
    concept_category: Column, lifecycle: Column, maturity: Column,
) -> Column:
    """A6 — serialize a node to its embedding/LSH text, reproducing the
    reference semantics byte-for-byte (reference db.py:81-95):
    ``k=v`` parts joined by ``"; "``; list values joined by ``", "``;
    ``confidence``/``id`` keys excluded; empty-string values dropped.

    Key order follows the reference's property insertion order for
    Variant-A nodes: name, aliases, type, description, then
    type-specific attrs.
    """
    parts = F.array(
        F.when(F.length(name) > 0, F.concat(F.lit("name="), name)),
        F.when(
            (aliases.isNotNull()) & (F.size(aliases) > 0),
            F.concat(F.lit("aliases="), F.array_join(aliases, ", ")),  # C3
        ),
        F.when(F.length(ntype) > 0, F.concat(F.lit("type="), ntype)),
        F.when(F.length(description) > 0, F.concat(F.lit("description="), description)),
        F.when(
            F.length(F.coalesce(concept_category, F.lit(""))) > 0,
            F.concat(F.lit("concept_category="), concept_category),
        ),
        F.when(
            lifecycle.isNotNull(),
            F.concat(F.lit("intervention_lifecycle="), lifecycle.cast("string")),
        ),
        F.when(
            maturity.isNotNull(),
            F.concat(F.lit("intervention_maturity="), maturity.cast("string")),
        ),
    )
    # filter out the NULLs produced by unmatched whens, then join "; " (C4)
    return F.array_join(F.filter(parts, lambda x: x.isNotNull()), "; ")


def tokenize(col: Column | str) -> Column:
    """Whitespace/punct word tokens, lowercased (TF-IDF input, X2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9_\-\.]+"), lambda t: F.length(t) > 0
    )


def char_shingles(col: Column | str, k: int = 3) -> Column:
    """Character k-shingle set of a string (MinHash/Jaccard input).

    Built-ins only: sequence over offsets → substring per offset →
    distinct. No Python; the ``transform`` lambda runs interpreted
    (higher-order functions are CodegenFallback), once per offset.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substring(c, i, F.lit(k))
        )
    )


def word_ngrams(tokens: Column, n: int = 2) -> Column:
    """Word n-gram array from a token array (n-gram Jaccard dedup)."""
    size = F.size(tokens)
    cnt = F.greatest(size - F.lit(n - 1), F.lit(0))
    return F.transform(
        F.sequence(F.lit(0), cnt - F.lit(1)),
        lambda i: F.array_join(F.slice(tokens, i + F.lit(1), F.lit(n)), " "),
    )
