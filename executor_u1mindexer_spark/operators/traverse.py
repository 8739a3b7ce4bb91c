"""Document-tree traversal — the reference's `traversal_paths` input
selection (executor.py:86-88: 'r' = roots, chunk paths = nested children of
each Document).

Spark mapping (SURVEY.md §2.A #9): roots = the DataFrame itself; a chunk
level = explode of an ArrayType(StructType) column. The fixture documents
are flat, so `with_chunks` synthesizes a deterministic two-chunk split of
each text (first/second half of the word sequence) — the nested-schema
construction and the explode are the real artifacts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_chunks(docs: DataFrame) -> DataFrame:
    """Attach a chunks array<struct<chunk_seq:int, chunk_text:string>>:
    two halves of the word sequence ((n+1) div 2 words, then the rest)."""
    toks: Column = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    h = F.floor((n + 1) / 2).cast("int")  # (n+1) div 2; exact for int-range doubles
    first = F.array_join(F.slice(toks, 1, h), " ")
    second = F.array_join(F.slice(toks, h + 1, n - h), " ")
    chunks = F.array(
        F.struct(F.lit(0).alias("chunk_seq"), first.alias("chunk_text")),
        F.struct(F.lit(1).alias("chunk_seq"), second.alias("chunk_text")),
    )
    return docs.withColumn("chunks", chunks)


def traverse_flat(
    docs: DataFrame,
    path: str = "r",
    id_col: str = "doc_id",
) -> DataFrame:
    """Select a tree level: 'r' returns roots unchanged (executor.py:88
    default); 'c' explodes the chunks level, one row per chunk, lifting
    EVERY chunk-struct field to a top-level column (in the reference,
    chunks are full Documents with their own id/embedding/text — whatever
    the struct carries becomes the operating surface).

    If the chunk struct carries its own ``id_col`` field (full-Document
    chunks), the chunk's id wins and the parent id is dropped — matching
    `DocumentArray.traverse_flat`, which yields the chunk Documents
    themselves. Otherwise the parent id is kept alongside the lifted
    fields (the flat-fixture shape used by `traverse_chunks`)."""
    if path == "r":
        return docs
    if path == "c":
        exploded = docs.select(
            F.col(id_col), F.explode(F.col("chunks")).alias("__chunk")
        )
        fields = [f.name for f in exploded.schema["__chunk"].dataType.fields]
        lifted = [F.col(f"__chunk.{f}").alias(f) for f in fields]
        if id_col in fields:
            return exploded.select(*lifted)
        return exploded.select(id_col, *lifted)
    raise ValueError(f"unknown traversal path {path!r}; expected 'r' or 'c'")
