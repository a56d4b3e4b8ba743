"""Slowly-changing-dimension (SCD type 2) support: turn a change log
into validity intervals, and join facts to the dimension version that
was current AT THE FACT'S OWN TIME.

The warehouse-classic gap in a snapshot-only world: a customer's
segment changes over the years, and revenue attribution joined
against TODAY's dimension silently rewrites history. The engine's
as-of join (operators/asof.py) answers "latest event at or before t"
for event STREAMS; SCD2 is the keyed-dimension form — explicit
[valid_from, valid_to) intervals, exactly one version current per
key per instant.

Scale shape:
- ``changes_to_scd2``: one shuffle on the dimension key; the
  interval construction is a single lead() window per key, bounded
  by versions-per-key (SCD dims have few versions — that bound is
  the design premise, not an accident);
- ``scd2_join``: an EQUI-join on the key with the interval test as a
  join-level residual condition — the key equality drives the hash
  join (AQE skew rules apply), the residual never degrades it to a
  theta/cross join; fan-out per fact row is at most
  versions-per-key before the residual and exactly <= 1 after it
  (intervals partition the timeline by construction).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def changes_to_scd2(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Change log (one row per key per attribute change, stamped with
    the change time) -> SCD2 intervals: valid_from = the change time,
    valid_to = the NEXT change's time for that key (NULL = still
    current, half-open [from, to)). Duplicate change times within a
    key are rejected loudly — two versions current at one instant
    has no meaning and would silently double-join downstream.

    The duplicate check rides the same lead() window, inside the
    plan: sorted by time, a key repeats an instant exactly when some
    row's next row carries the same time (NULL-safe, so two NULL
    instants of one key count, as a GROUP BY would group them; a
    key's last row has no next row). Building the query runs no job;
    the first action raises."""
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    ts = F.col(ts_col)
    nxt = F.col("__next")
    dup = nxt.isNotNull() & nxt["t"].eqNullSafe(ts)
    msg = F.concat(
        F.lit("duplicate change timestamp for key "),
        F.to_json(F.struct(*keys, ts)),
        F.lit(" — two dimension versions cannot be current at the same instant"),
    )
    out = (
        changes.withColumn("__next", F.lead(F.struct(ts.alias("t"))).over(w))
        .where(F.assert_true(~dup, msg).isNull())
        .withColumn("valid_from", ts)
        .withColumn("valid_to", nxt["t"])
        .drop("__next")
    )
    return out.drop(ts_col) if ts_col not in ("valid_from", "valid_to") else out


def scd2_join(
    fact: DataFrame,
    dim: DataFrame,
    key_cols: Sequence[str],
    fact_ts_col: str,
) -> DataFrame:
    """Point-in-time enrichment: each fact row joins the dimension
    version whose [valid_from, valid_to) interval contains the fact's
    own timestamp (valid_to NULL = open-ended current version). Facts
    before a key's first version — or with no key match — keep a row
    with NULL dimension columns under the default left join.

    Column hygiene: ``dim``'s key columns are dropped from the output
    (they equal the fact's); validity columns are kept so consumers
    can audit which version matched. Any OTHER name shared between
    fact and the kept dim columns is rejected up front — a silently
    duplicated column name breaks every later by-name select.
    """
    clash = sorted(
        set(fact.columns) & (set(dim.columns) - set(key_cols))
    )
    if clash:
        raise ValueError(
            f"column name collision between fact and dim: {clash} — "
            "rename the fact columns or drop/rename them on the dim "
            "side before scd2_join (key columns are exempt: the dim "
            "copies are dropped)"
        )
    ts = F.col(f"__f.{fact_ts_col}")
    cond = None
    for k in key_cols:
        eq = F.col(f"__f.{k}") == F.col(f"__d.{k}")
        cond = eq if cond is None else cond & eq
    interval = (ts >= F.col("__d.valid_from")) & (
        F.col("__d.valid_to").isNull()
        | (ts < F.col("__d.valid_to"))
    )
    joined = fact.alias("__f").join(dim.alias("__d"), cond & interval, "left")
    dim_cols = [
        c for c in dim.columns if c not in key_cols
    ]
    return joined.select(
        *[F.col(f"__f.{c}") for c in fact.columns],
        *[F.col(f"__d.{c}") for c in dim_cols],
    )
