"""HTML → text extraction with line-frequency boilerplate removal
(CCNet-adjacent).

A web-corpus pipeline starts at raw HTML, not clean text: the extraction
pass strips markup JVM-side (pure Catalyst regex/replace expressions —
no Python in the hot path), and the boilerplate pass drops lines that
repeat across a large fraction of documents (navigation, footers,
cookie banners), the signal CCNet/trafilatura-class extractors lean on.

Engine-portability: every regex used here is valid and equivalent in
both Java regex (Spark) and RE2 (DuckDB) — non-greedy ``.*?``, the
``(?s)`` DOTALL flag, character classes — so a SQL oracle replays the
whole chain bit-exactly (md5 of the extracted text is driver-checked by
the text_html_extract query).

Scale: extraction is a per-row expression (whole-stage codegen); the
boilerplate pass shuffles (line, doc_id) pairs once to count distinct
documents per line, then anti-joins a BROADCAST of the frequent-line
set — at 100 TB, hash lines to xxhash64 before the count so only 8-byte
keys shuffle, and sample the corpus for the frequency estimate (the
frequent-line set is stable under sampling).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Tags whose CLOSE acts as a line break in the extracted text.
_BLOCK_CLOSE = "p|div|h1|h2|h3|li|nav|tr|td|section|article|footer|header"

# HTML entities decoded after tag stripping; '&amp;' must come last so
# double-escaped entities do not double-decode.
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_text_lines(html: Column) -> Column:
    """array<string> of cleaned visible-text lines, document order.

    Chain: drop <script>/<style> blocks and comments (DOTALL,
    non-greedy), turn block-close tags and <br> into newlines, strip
    every remaining tag to a space, decode entities, then per line
    collapse whitespace / trim / drop empties."""
    x = F.regexp_replace(
        html, r"(?s)<(script|style)[^>]*>.*?</(script|style)>", ""
    )
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", "")
    x = F.regexp_replace(x, rf"</({_BLOCK_CLOSE})>|<br */?>", "\n")
    x = F.regexp_replace(x, r"<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    lines = F.transform(
        F.split(x, "\n"),
        lambda line: F.trim(F.regexp_replace(line, r"\s+", " ")),
    )
    return F.filter(lines, lambda line: line != "")


def drop_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    max_doc_num: int = 1,
    max_doc_den: int = 10,
) -> DataFrame:
    """Remove lines appearing in >= max_doc_num/max_doc_den of documents.

    Returns (id, n_kept, text) with surviving lines rejoined in original
    order.  The frequency rule is integer-exact (df * den >= n * num), so
    the kept set is bit-reproducible.  Documents whose every line is
    boilerplate drop out of the result (nothing readable survived)."""
    n = df.count()
    ex = df.select(
        F.col(id_col).alias("did"),
        F.posexplode(F.col(lines_col)).alias("pos", "line"),
    )
    boiler = (
        ex.groupBy("line")
        .agg(F.countDistinct("did").alias("line_df"))
        .where(F.col("line_df") * max_doc_den >= F.lit(n) * max_doc_num)
        .select("line")
    )
    kept = ex.join(F.broadcast(boiler), "line", "left_anti")
    return (
        kept.groupBy("did")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
        )
        .withColumnRenamed("did", id_col)
    )
