"""Mojibake repair — the byte-level kernel paired with
``text.encoding_quality`` (which is detection-only by design).

Two tiers, matching how a 100 TB pipeline would actually run this:

- :func:`repair_encoding` — the scan-speed path: one projection of
  chained ``replace`` calls over a *generated* damage map (every
  Latin-1-Supplement letter/symbol plus the common cp1252
  punctuation, UTF-8-encoded then mis-decoded as windows-1252 — the
  classic "Ã©" for "é" double-encode). Pure JVM expressions: no UDF,
  no shuffle, whole-stage codegen, and exactly expressible in the
  DuckDB oracle (the same chain, same order, generated from the same
  map — :func:`mojibake_repair_sql`).
- :func:`repair_encoding_exact` — the full ftfy-style codec
  round-trip (sloppy-cp1252 re-encode -> UTF-8 decode, looped for
  double-encoded text, with a validity check so clean text is never
  touched). Byte-level work that needs real codecs, so it is an
  Arrow-batched pandas UDF with a vectorized marker short-circuit
  (the urltools IDNA precedent): batches without mojibake markers
  pass through at Arrow speed, so at corpus scale the kernel only
  ever pays for the flagged sliver encoding_quality identifies.

Chain-order contract: replacements apply longest-damaged-sequence
first, then lexicographic — a deterministic total order shared with
the oracle. A chained (sequential) replace can repair one extra
nesting level when an earlier replacement's output completes a later
pattern (e.g. "Ã‚Â·" -> "Â·" -> "·"); that bonus is identical in both
engines because the order is identical, so parity holds by
construction. The exact kernel is the reference semantics for
arbitrarily nested damage.

Reference parity note: the reference engine has no encoding repair
(its text processing is CSV splits — SURVEY.md §2.8); this is part of
the training-data-pipeline extension suite, patterned on ftfy's
published fix_encoding behavior (Speer 2019), re-derived here from
the codec definitions only.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.text import MOJIBAKE_MARKERS

# Codepoints whose mojibake forms the fast path repairs: the Latin-1
# Supplement printables (the accented letters and symbols that
# dominate real-world damage) plus the cp1252-only punctuation block
# (curly quotes, dashes, ellipsis, euro, trademark, ...).
_REPAIR_CODEPOINTS: tuple[int, ...] = tuple(range(0xA1, 0x100)) + (
    0x152, 0x153, 0x160, 0x161, 0x178, 0x17D, 0x17E, 0x192,
    0x2013, 0x2014, 0x2018, 0x2019, 0x201A, 0x201C, 0x201D, 0x201E,
    0x2020, 0x2021, 0x2022, 0x2026, 0x2030, 0x2039, 0x203A,
    0x20AC, 0x2122,
)


def _sloppy_cp1252_decode(b: bytes) -> str:
    """windows-1252 with the five undefined bytes passed through as
    their Latin-1 codepoints — how lenient web decoders (and ftfy's
    sloppy-windows-1252) actually behave, and therefore how the
    damage we are reversing was produced."""
    out = []
    for x in b:
        try:
            out.append(bytes([x]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(x))
    return "".join(out)


def _sloppy_cp1252_encode(s: str) -> bytes:
    """Inverse of :func:`_sloppy_cp1252_decode`; raises
    UnicodeEncodeError for characters no cp1252-mis-decode can have
    produced (so the exact kernel leaves such text untouched)."""
    out = bytearray()
    for ch in s:
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            cp = ord(ch)
            if cp < 0x100:
                out.append(cp)
            else:
                raise
    return bytes(out)


@lru_cache(maxsize=1)
def mojibake_fixmap() -> tuple[tuple[str, str], ...]:
    """(damaged, repaired) pairs, longest-damaged-first then
    lexicographic — the shared total order both engines replay.
    Generated, not hand-typed: damaged = sloppy-cp1252 decode of the
    character's UTF-8 bytes, so the table cannot drift from the codec
    definitions it reverses."""
    pairs = []
    for cp in _REPAIR_CODEPOINTS:
        ch = chr(cp)
        damaged = _sloppy_cp1252_decode(ch.encode("utf-8"))
        assert "'" not in damaged and "'" not in ch  # SQL-literal safe
        pairs.append((damaged, ch))
    pairs.sort(key=lambda p: (-len(p[0]), p[0]))
    return tuple(pairs)


def repair_expr(col: Column | str) -> Column:
    """The chained-replace repair as a single column expression
    (NULL in -> NULL out, like every string function)."""
    c = F.col(col) if isinstance(col, str) else col
    for damaged, fixed in mojibake_fixmap():
        c = F.replace(c, F.lit(damaged), F.lit(fixed))
    return c


def mojibake_repair_sql(expr: str) -> str:
    """The identical chain as DuckDB SQL over ``expr`` — generated
    from the same map in the same order, so the oracle cannot drift
    from the Spark plan."""
    for damaged, fixed in mojibake_fixmap():
        expr = f"replace({expr}, '{damaged}', '{fixed}')"
    return expr


def repair_encoding(df: DataFrame) -> DataFrame:
    """Scan-speed mojibake repair + before/after accounting:
    (id, text_repaired, was_repaired, n_hits_before, n_hits_after).

    ``n_hits_*`` counts the same marker sequences encoding_quality
    counts ("Ã", "â€", "Â"), so the two operators reconcile: the
    flagged sliver is exactly the rows this op can change, and
    ``n_hits_after`` measures what the fast path left for the exact
    kernel. One projection — no shuffle, no UDF. NULL text passes
    through as NULL (``was_repaired`` false)."""
    raw = F.col("text")
    fixed = repair_expr(raw)

    def hits(c: Column) -> Column:
        t = F.coalesce(c, F.lit(""))
        n = None
        for m in MOJIBAKE_MARKERS:
            cnt = (
                (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit("")))) / len(m)
            ).cast("long")
            n = cnt if n is None else (n + cnt)
        return n

    # one-element explode barrier so `fixed` is bound once (it is a
    # ~120-deep expression tree; n_hits_after and the equality test
    # would otherwise each inline a full copy)
    barrier = df.select(
        "doc_id",
        F.explode(F.array(F.struct(raw.alias("t"), fixed.alias("r")))).alias("x"),
    )
    t, r = F.col("x.t"), F.col("x.r")
    return barrier.select(
        "doc_id",
        r.alias("text_repaired"),
        F.coalesce(r != t, F.lit(False)).alias("was_repaired"),
        hits(t).alias("n_hits_before"),
        hits(r).alias("n_hits_after"),
    )


def repair_encoding_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_layers: int = 3,
) -> DataFrame:
    """Exact ftfy-style repair: sloppy-cp1252 re-encode -> strict
    UTF-8 decode, looped up to ``max_layers`` times for multiply
    double-encoded text. A row is only changed when the full
    round-trip succeeds (strict UTF-8 decode is the validity proof —
    the probability of legitimate cp1252 text forming valid multi-byte
    UTF-8 by accident is negligible, the same argument ftfy makes);
    anything else passes through byte-identical.

    Pandas UDF over Arrow batches; a vectorized marker pre-check
    short-circuits batches (and rows) with no mojibake markers, so
    only the encoding_quality-flagged sliver pays codec cost."""
    import pandas as pd  # noqa: F401 — pyspark ships with pandas

    from pyspark.sql.functions import pandas_udf

    markers = MOJIBAKE_MARKERS

    @pandas_udf("string")
    def _fix(texts):  # type: ignore[no-untyped-def]
        flagged = texts.notna() & texts.str.contains(
            "|".join(markers), regex=True, na=False
        )
        if not flagged.any():  # Arrow passthrough for clean batches
            return texts

        def fix_one(s: str) -> str:
            cur = s
            for _ in range(max_layers):
                if not any(m in cur for m in markers):
                    break
                try:
                    b = _sloppy_cp1252_encode(cur)
                    new = b.decode("utf-8")
                except (UnicodeEncodeError, UnicodeDecodeError):
                    break
                if new == cur:
                    break
                cur = new
            return cur

        out = texts.copy()
        out[flagged] = texts[flagged].map(fix_one)
        return out

    raw = F.col(text_col)
    fixed = _fix(raw)
    return df.select(
        id_col,
        fixed.alias("text_repaired"),
        F.coalesce(fixed != raw, F.lit(False)).alias("was_repaired"),
    )
