"""Python UDTFs (Spark 4 table functions) — the engine's row-generator
surface.

The reference's one UDTF (``AreaTop3Stat.scala``'s city-info flatten,
SURVEY §2.10) and every flatMap-shaped pattern in the catalog are
covered by ``explode`` over array expressions — the JVM-side fast
path, always preferred. This module exists for the genuinely
*procedural* generators a pipeline sometimes needs (per-row logic that
won't fit array/higher-order expressions without contortion), using
Spark 4's ``udtf`` with Arrow-optimized transfer — never a
row-at-a-time pickled path.

``chunk_documents_udtf`` is deliberately a TWIN of the expression-based
``operators/text.chunk_documents``: same normalization, same stride
arithmetic, same output schema, asserted row-identical in tests. That
gives the UDTF surface a correctness anchor (the expression form is
DuckDB-oracled) and documents the trade: the expression form is the
production path (whole-stage codegen, zero Python), the UDTF form is
the template for logic that can't be expressed that way.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame
from pyspark.sql.functions import udtf

_VIEW_LOCK = threading.Lock()
_VIEW_SEQ = 0

# Java \s = [ \t\n\x0B\f\r]; Python's \s would also match unicode
# whitespace, so spell the class out to match the JVM normalizer
# (operators/text.normalize_text) exactly.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _normalize(text: str) -> str:
    """Python twin of operators/text.normalize_text:
    lower(trim(c)) then collapse runs of whitespace to one space.
    F.trim strips ASCII spaces only — replicate, don't strip()."""
    return _WS.sub(" ", text.strip(" ").lower())


def make_chunk_udtf(chunk_tokens: int = 256, overlap: int = 32):
    """Build the Arrow-optimized chunker UDTF class for the given
    window geometry. Parameters are baked via closure because UDTF
    constructors take no user args at call sites."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap

    class ChunkDocuments:
        def eval(self, text: str):
            # NULL text emits no rows — same contract as the
            # expression form (explode over a NULL sequence).
            if text is None:
                return
            # toks is never empty: str.split(" ") on "" yields [""],
            # so range(0, len(toks), stride) is exactly the expression
            # form's sequence(0, size-1, stride)
            toks = _normalize(text).split(" ")
            for chunk_no, s in enumerate(range(0, len(toks), stride)):
                piece = toks[s : s + chunk_tokens]
                yield chunk_no, len(piece), " ".join(piece)

    schema = "chunk_no: int, chunk_n_tokens: int, chunk_text: string"
    return udtf(ChunkDocuments, returnType=schema, useArrow=True)


def chunk_documents_udtf(df: DataFrame) -> DataFrame:
    """UDTF-backed document chunking: LATERAL-join the generator
    against each document row. Output schema and values are identical
    to operators/text.chunk_documents (asserted in tests): (doc_id,
    chunk_no, chunk_n_tokens, chunk_text).

    Scale shape: the lateral UDTF is map-side — each input partition
    streams its rows through the Python worker (Arrow batches) and
    fans chunks out locally; no shuffle is introduced, exactly like
    the explode in the expression form.
    """
    spark = df.sparkSession
    fn_name = "__chunk_udtf_256_32"
    spark.udtf.register(fn_name, make_chunk_udtf(256, 32))
    # Per-call unique view name: a geometry-derived name would race
    # concurrent callers (B's createOrReplaceTempView swapping the
    # frame under A's sql()). spark.sql analyzes EAGERLY, so the view
    # reference is resolved into the returned DataFrame's plan and the
    # view can be dropped immediately — no session-catalog leak.
    with _VIEW_LOCK:
        global _VIEW_SEQ
        _VIEW_SEQ += 1
        view = f"__chunk_udtf_in_{_VIEW_SEQ}"
        df.select("doc_id", "text").createOrReplaceTempView(view)
        try:
            return spark.sql(
                "SELECT v.`doc_id`, c.chunk_no, c.chunk_n_tokens, c.chunk_text "
                f"FROM {view} AS v, LATERAL {fn_name}(v.`text`) AS c"
            )
        finally:
            spark.catalog.dropTempView(view)
