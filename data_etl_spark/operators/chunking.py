"""Fixed-size / overlapping text chunking + markdown header splitting.

Native re-implementation of the deterministic half of the reference's
chunking stack (SURVEY.md §2.11 U3): LangChain's
``RecursiveCharacterTextSplitter(chunk_size, chunk_overlap)`` and
``MarkdownHeaderTextSplitter`` (`/root/reference/src/managers/
chunking_manager.py:63-76,151-176`). The markdown split and all chunk
arithmetic are pure column expressions; the fixed-size window
EXTRACTION rides an Arrow scalar kernel (array-of-chunks per row, then
posexplode) — the ``substring(text, i*step+1, size)``-per-chunk
expression form walks to code point i*step on every call, making the
operator O(len²/step) per document (measured on the --bigdoc corpus's
150 KB docs: q_chunk_pipeline 13.7 s -> 2.3 s, q_chunks 16.8 s -> 7.6 s
— the latter also pays materializing every chunk string through one
scan task; invisible at driver doc sizes). Python
slices count code points exactly like Spark's substr and DuckDB's
substring, so the DuckDB oracle keeps the relational formula and the
values are byte-identical (pinned by tests/test_chunking.py).

Chunk identity = (doc key, chunk_idx), chunk_idx 0-based in document
order — mirrors `chunking_manager.py:159` (SURVEY.md §1.3, W2).

Scale note: chunking is embarrassingly parallel (per-row flatMap, no
shuffle); at 100 TB the only knob is input split size
(`spark.sql.files.maxPartitionBytes`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_SIZE = 100
DEFAULT_OVERLAP = 20


def n_chunks(text: Column, size: int, step: int) -> Column:
    """Number of fixed-size chunks with overlap: 1 + ceil(max(L-size,0)/step)."""
    return (
        F.lit(1)
        + F.greatest(
            F.ceil((F.length(text) - F.lit(size)) / F.lit(float(step))),
            F.lit(0),
        )
    ).cast("int")


def n_chunks_sql(expr: str, size: int, step: int) -> str:
    return (
        f"CAST(1 + greatest(ceil((length({expr}) - {size}) / {step}.0), 0) AS INT)"
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """Explode each row into overlapping chunks.

    Adds ``chunk_idx`` (0-based) and ``chunk_text``; keeps all other
    columns. Chunk i covers characters [i*step, i*step + size).

    ALL texts ride the linear Arrow kernel — deliberately no
    size-gated expression fallback. A hybrid that routed short texts
    through per-chunk ``substring`` expressions was built and REVERTED
    in round 7: when ``text_col`` is a computed column (q_chunks feeds
    the normalize_text regex chain), Catalyst's project collapse
    re-inlines that chain into every one of the ~n_chunks substring
    references plus the gate predicate, and the extracted
    ArrowEvalPython node still runs for every row regardless of the
    CASE branch — measured 1.53 s vs the kernel's 0.73 s on the sf0.1
    pipeline, i.e. the "optimization" was 2x slower than the thing it
    optimized. One kernel pass evaluates the input expression exactly
    once per row, is O(len) per document (the expression form is
    O(len²/step): >9 min on --bigdoc's 150 KB texts), and costs only
    the Arrow round-trip on small docs (~0.2 s at sf0.1).

    Python's ``s[a:b]`` slices code points, exactly matching
    ``substring(text, i*step+1, size)`` and the DuckDB oracle (pinned
    byte-equal to the expression form in tests/test_chunking.py).
    Chunk count reproduces :func:`n_chunks`: 1 + ceil(max(L-size,0)/
    step), so an empty text still yields one (empty) chunk; a NULL
    text yields one NULL chunk in both engines (``greatest`` skips
    NULLs, ``substring(NULL)`` is NULL).
    """
    step = size - overlap

    @F.pandas_udf("array<string>")
    def _windows(t: pd.Series) -> pd.Series:
        out = []
        for s in t:
            if not isinstance(s, str):
                # mirror substring(NULL, ...): one chunk, NULL text
                out.append([None])
                continue
            length = len(s)
            n = 1 + (max(length - size, 0) + step - 1) // step if length > size else 1
            out.append([s[i * step : i * step + size] for i in range(n)])
        return pd.Series(out)

    return (
        df.withColumn("__chunks", _windows(F.col(text_col)))
        .select("*", F.posexplode("__chunks").alias("chunk_idx", "chunk_text"))
        .drop("__chunks")
    )


#: sentinel used to split markdown at header lines without regex lookahead
#: (RE2 in DuckDB has no lookahead; prefixing a \x01 then splitting on it
#: is equivalent and works in both engines).
_SENT = "\x01"


def split_markdown_headers(df: DataFrame, md_col: str = "md") -> DataFrame:
    """Markdown header split (U3 native half): one row per segment.

    Output: seg_idx (1-based, document order), level (0 when the segment
    has no leading header), title, body = segment text. Header levels
    1..6 recognized, mirroring header_levels config
    (`/root/reference/config.json:32-38` uses 4; we accept up to 6).
    """
    marked = F.regexp_replace(F.col(md_col), "(?m)^(#{1,6} )", _SENT + "$1")
    segs = F.split(marked, _SENT)
    out = (
        df.withColumn("__segs", segs)
        .select(
            "*",
            F.posexplode("__segs").alias("__pos", "segment"),
        )
        .filter((F.col("__pos") > 0) | (F.col("segment") != ""))
        .withColumn("seg_idx", F.col("__pos") + 1)
        .withColumn(
            "level",
            F.length(F.regexp_extract("segment", r"^(#{1,6}) ", 1)),
        )
        .withColumn(
            "title",
            F.trim(F.regexp_extract("segment", r"^#{1,6} ([^\n]*)", 1)),
        )
        .withColumn("body", F.trim(F.regexp_replace("segment", r"^#{1,6} [^\n]*\n?", "")))
        .drop("__segs", "__pos", "segment")
    )
    return out
