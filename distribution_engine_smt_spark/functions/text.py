"""String / array scalar functions (SURVEY.md §2.8 F5-F7, F10, F13-F15).

All pure Column expressions — JVM-side, codegen-friendly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SQL_WORD = re.compile(r"[A-Za-z0-9_]+")


def sql_word(value: str) -> str:
    """``value`` unchanged if it is a plain word (letters, digits,
    underscore) and so safe to splice into Spark SQL text as a quoted
    literal or a backticked name; ``ValueError`` otherwise — a quote,
    backtick or space in spliced text would change the statement."""
    if not _SQL_WORD.fullmatch(value):
        raise ValueError(f"not a plain SQL word: {value!r}")
    return value


def construct_authorperm(author: Column, permlink: Column) -> Column:
    """``(author, permlink) -> '@author/permlink'`` (reference call sites:
    stream_blocks.py:153, server/app.py:273-275)."""
    return F.concat(F.lit("@"), author, F.lit("/"), permlink)


def resolve_author(authorperm: Column) -> Column:
    """author from ``[h]@author/permlink``."""
    return F.regexp_extract(authorperm, r"^h?@([^/]+)/", 1)


def resolve_permlink(authorperm: Column) -> Column:
    return F.regexp_extract(authorperm, r"^h?@[^/]+/(.*)$", 1)


def tags_array(tags_csv: Column) -> Column:
    """CSV tags column -> array (reference stores tags as comma-separated
    varchar and queries with STRING_TO_ARRAY — sql/engine.sql:82,
    engine/post_storage.py:179)."""
    return F.split(tags_csv, ",")


def build_tags_csv(category: Column, metadata_tags: Column, max_len: int = 256) -> Column:
    """Tag-list build (reference: comment_processor_for_engine.py:66-85,144):
    category first, then json-metadata tags, dedup preserving order,
    CSV-encode, truncate to 256 chars.

    ``metadata_tags`` is ArrayType(String) (already parsed from
    json_metadata). array_distinct preserves first-occurrence order, which
    matches the reference's ordered-dedup loop.
    """
    merged = F.array_distinct(
        F.concat(
            F.when(category.isNull() | (category == ""), F.array()).otherwise(
                F.array(category)
            ),
            F.coalesce(metadata_tags, F.array()),
        )
    )
    cleaned = F.filter(merged, lambda t: t.isNotNull() & (t != ""))
    return F.substring(F.concat_ws(",", cleaned), 1, max_len)


def truncate(col: Column, n: int) -> Column:
    """title[:256], desc = body[:300] (reference:
    comment_processor_for_engine.py:132,142-143)."""
    return F.substring(col, 1, n)


def is_main_post(parent_author: Column, parent_permlink: Column) -> Column:
    """Main-post predicate (reference: comment_processor_for_engine.py:44):
    true when either parent field is empty/null."""
    return (
        parent_author.isNull()
        | (parent_author == "")
        | parent_permlink.isNull()
        | (parent_permlink == "")
    )


def reblogged_by_first(csv: Column) -> Column:
    """string_agg CSV -> first element as a 1-element array (reference:
    server/app.py:427-433 keeps only element [0])."""
    return F.slice(F.split(csv, ","), 1, 1)


def memo_to_authorperm(memo: Column) -> Column:
    """Promotion memo -> authorperm (reference:
    engine_promote_post_processor.py:59-67): strip quotes, take the
    ``h?@author/permlink`` suffix."""
    stripped = F.regexp_replace(memo, r'^["\']+|["\']+$', "")
    return F.regexp_extract(stripped, r"(h?@[^@\s]+)$", 1)
