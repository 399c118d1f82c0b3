"""Remaining UDF/UDTF surface (SURVEY.md §2.8 U5/U6).

U6 — iterator pandas UDF: the chunked-model-scoring shape.  The reference
loads a classifier once per worker process and streams chunks through it
(dask blockwise with a closure).  Spark analog: ``Iterator[pd.Series]``
pandas UDF — per-partition init amortized across Arrow batches, which is
exactly what you want when 'init' is loading model weights.  The stub
'model' is a fixed linear unmix so the whole thing stays oracle-checkable
(per-row double arithmetic is engine-exact).

U5 — UDTF: PySpark 4 ``udtf`` generator — one input row → many output
rows with per-row Python state.  Chunking documents into fixed token
windows (the training-data tokenize-and-pack shape).  Oracle: DuckDB
range + list slicing reproduces the same chunks.

NB: the ``pandas_udf``/``udtf`` decorators parse their DDL return types
EAGERLY and need an active SparkSession — they are constructed inside the
query functions, never at module import.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fanout, load
from ..registry import register

# fixed 'model weights' (a linear water-index stand-in)
_W = {"bias": 0.125, "qty": 0.02, "disc": -1.5, "tax": 0.75}


@register(
    "udf_iter_score",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               {_W['bias']} + {_W['qty']} * l_quantity
                 + ({_W['disc']}) * l_discount + {_W['tax']} * l_tax AS score
        FROM lineitem
    """,
)
def udf_iter_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: iterator pandas UDF model scoring — Arrow-batched, init
    amortized across batches; linear stub keeps it bit-exact vs SQL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        # expensive init happens ONCE per partition, not per batch/row
        w = dict(_W)
        for pdf in batches:
            yield (
                w["bias"]
                + w["qty"] * pdf["l_quantity"]
                + w["disc"] * pdf["l_discount"]
                + w["tax"] * pdf["l_tax"]
            )

    lf = load(spark, sf_dir, "lineitem")
    return lf.select(
        "l_orderkey",
        "l_linenumber",
        score_iter(F.struct("l_quantity", "l_discount", "l_tax")).alias("score"),
    )


class ChunkText:
    """U5 UDTF body: split a document into fixed-size token windows."""

    def eval(self, doc_id: int, text: str, window: int):  # noqa: D102
        toks = text.split(" ")
        for i in range(0, len(toks), window):
            piece = toks[i : i + window]
            yield doc_id, i // window, " ".join(piece), len(piece)


@register(
    "udtf_chunk_text",
    oracle="""
        WITH t AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
        )
        SELECT doc_id,
               CAST(k AS INTEGER) AS chunk_idx,
               ARRAY_TO_STRING(toks[k * 32 + 1 : LEAST((k + 1) * 32, LEN(toks))], ' ')
                 AS chunk,
               CAST(LEAST((k + 1) * 32, LEN(toks)) - k * 32 AS INTEGER) AS n_chunk_tokens
        FROM t, RANGE(0, 1000) r(k)
        WHERE k * 32 < LEN(toks)
    """,
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: tokenize-and-pack — each doc explodes into 32-token windows via
    a Python UDTF (the generator shape ``explode`` can't express when
    per-row state or ragged logic is involved)."""
    from pyspark.sql.functions import udtf

    chunker = udtf(
        ChunkText,
        returnType="doc_id: bigint, chunk_idx: int, chunk: string, n_chunk_tokens: int",
        useArrow=True,  # ArrowEvalPythonUDTF: batched ser/de, not pickled rows
    )
    spark.udtf.register("chunk_text", chunker)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        "SELECT c.* FROM documents_v, LATERAL chunk_text(doc_id, text, 32) c"
    )


@register(
    "udf_arrow_map",
    oracle="""
        SELECT doc_id,
               MD5(text) AS text_md5,
               -- STRLEN = BYTE length (the kernel counts utf-8 bytes);
               -- LENGTH would count characters and diverge on non-ASCII
               CAST(STRLEN(text) AS BIGINT) AS n_bytes,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tokens
        FROM documents
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6+: ``mapInArrow`` — the pandas-free Arrow pass.  When the Python
    work is byte-level (hashing, codec framing, tensor packing), the
    pandas conversion ``mapInPandas`` performs on every batch is pure
    overhead; ``mapInArrow`` hands the worker the raw
    ``pyarrow.RecordBatch`` both ways.  The kernel computes per-document
    digests/counters straight off the Arrow buffers; the oracle
    recomputes them in SQL, so the zero-copy path is value-hash-gated.
    Scale: zero-shuffle map pass, identical cost shape to mapInPandas
    minus the two pandas conversions per batch."""
    import hashlib

    import pyarrow as pa

    def digest_batches(batches):
        for batch in batches:
            docs = batch.column("doc_id")
            texts = batch.column("text")
            md5s, lens, toks = [], [], []
            for t in texts:
                b = t.as_py().encode("utf-8")
                md5s.append(hashlib.md5(b).hexdigest())
                lens.append(len(b))
                toks.append(b.count(b" ") + 1)
            yield pa.RecordBatch.from_arrays(
                [docs, pa.array(md5s, pa.string()),
                 pa.array(lens, pa.int64()), pa.array(toks, pa.int64())],
                names=["doc_id", "text_md5", "n_bytes", "n_tokens"],
            )

    dc = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(fanout(spark), "doc_id")
    )
    return dc.mapInArrow(
        digest_batches,
        schema="doc_id long, text_md5 string, n_bytes long, n_tokens long",
    )


class SplitFields:
    """Polymorphic UDTF body: emits one COLUMN per requested field — the
    output schema is computed by ``analyze`` from the constant argument at
    PLAN time (PySpark 4 dynamic-schema UDTF)."""

    @staticmethod
    def analyze(row_id, text, n):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import LongType, StringType, StructType

        if n.value is None:  # AnalyzeArgument.value is set only for constants
            raise Exception("n must be a constant")
        schema = StructType().add("row_id", LongType())
        for i in range(n.value):
            schema = schema.add(f"f{i}", StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, row_id, text, n):
        parts = (text or "").split(" ")
        row = [row_id] + [(parts[i] if i < len(parts) else None) for i in range(n)]
        yield tuple(row)


@register(
    "udtf_dynamic_schema",
    oracle="""
        WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS p FROM documents)
        SELECT doc_id AS row_id,
               p[1] AS f0, p[2] AS f1, p[3] AS f2
        FROM t
    """,
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5+: UDTF with ``analyze`` — the output schema (one column per
    leading token) is derived from the CONSTANT argument during analysis,
    so the same UDTF serves any width without code changes (PySpark 4
    polymorphic table functions; the static-DDL form ``udtf_chunk_text``
    can't change shape per call site).  Fixed n=3 here so the oracle is
    plain SQL; out-of-range fields are NULL on both sides."""
    from pyspark.sql.functions import udtf

    # useArrow composes with analyze(): the schema is still computed at plan
    # time, but eval I/O rides Arrow batches (ArrowEvalPythonUDTF) instead
    # of pickled rows — the 100 TB-path requirement (plan-pinned).
    splitter = udtf(SplitFields, useArrow=True)
    spark.udtf.register("split_fields", splitter)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents_v2")
    return spark.sql(
        "SELECT s.* FROM documents_v2, LATERAL split_fields(doc_id, text, 3) s"
    )
