"""Document chunking for LLM context windows.

Splits each document into ~``chunk_tokens``-token chunks with
``overlap_tokens`` of overlap — the standard prep for pretraining/RAG
ingestion. Fully columnar: tokenize once, build chunk index windows with
``sequence``/``transform``, slice and re-join, then explode. One map stage,
no shuffle, no Python — at 100 TB this runs at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from funcify_feature_eng_spark.functions.text import tokens


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    overlap_tokens: int = 64,
) -> DataFrame:
    """One output row per (document, chunk): id, chunk_idx, chunk_text,
    n_chunk_tokens. Chunk i covers tokens [i*step, i*step + chunk_tokens)
    with step = chunk_tokens - overlap_tokens; the last chunk may be short;
    empty documents yield no chunks.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    from .util import spread_small_input

    # the tokenize+slice+explode chain is a dense pure-map stage that
    # inherits the input split count — spread a few-split input across the
    # cluster first (hash by id, no sort; no-op at scale). Only the two
    # consumed columns are shuffled.
    df = spread_small_input(df.select(id_col, text_col), id_col)
    step = chunk_tokens - overlap_tokens
    tk = tokens(F.col(text_col))
    n = F.size(tk)
    # number of chunks: 1 + ceil((n - chunk_tokens) / step) for n > 0,
    # via integer arithmetic: 1 + max(0, ceil_div(n - chunk_tokens, step))
    extra = F.greatest(
        F.lit(0),
        F.floor((n - F.lit(chunk_tokens) + F.lit(step - 1)) / F.lit(step)).cast("int"),
    )
    n_chunks = F.when(n > 0, extra + 1).otherwise(F.lit(0))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(tk, i * step + 1, chunk_tokens)).alias("chunk_text"),
            F.least(n - i * step, F.lit(chunk_tokens)).alias("n_chunk_tokens"),
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(F.when(n > 0, chunks)).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        )
    )
