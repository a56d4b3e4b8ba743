"""Output checks, run outside every timed region.

Results compare through an order-insensitive digest: columns sorted by
name, values normalised (floats to 9 significant digits, so summation
order cannot flip a digit that matters), rows sorted. Oracle digests
come from the repo's DuckDB oracle SQL and are cached on disk.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from pathlib import Path

# ---------------------------------------------------------------------------
# Digest
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f) or f != int(f) or abs(f) >= 2**53:
            return float(f"{f:.9g}")
        return int(f)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(_norm(r[i]) for i in order) for r in rows]
    data.sort(key=repr)
    payload = repr(([cols[i] for i in order], data))
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def df_digest(cols: list[str], rows) -> str:
    return digest(list(cols), [tuple(r) for r in rows])


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def duckdb_digest(sql: str, tables: dict[str, Path]) -> tuple[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
    return digest(cols, rows), len(rows)


class OracleCache:
    """Oracle digests keyed by (SQL, input files' names and sizes),
    computed once and kept in ``cache_dir``."""

    def __init__(self, cache_dir: Path) -> None:
        self.path = cache_dir / "oracle_digests.json"
        try:
            self.entries = json.loads(self.path.read_text())
        except (OSError, ValueError):
            self.entries = {}
        self.dirty = False

    def get(self, sql: str, tables: dict[str, Path]) -> str:
        ident = [sql] + sorted(
            (n, str(p), p.stat().st_size) for n, p in tables.items() if p.exists()
        )
        key = hashlib.sha256(repr(ident).encode()).hexdigest()
        if key not in self.entries:
            self.entries[key] = duckdb_digest(sql, tables)[0]
            self.dirty = True
        return self.entries[key]

    def save(self) -> None:
        if self.dirty:
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.entries, indent=0, sort_keys=True))
            tmp.replace(self.path)
            self.dirty = False


def oracle_sql(query: str) -> str:
    """The DuckDB oracle of a driver-slot or twin query."""
    from bigdata_commerce_spark.plans import ORACLES, TWIN_ORACLES

    return ORACLES.get(query) or TWIN_ORACLES[query]


def expect_digest(expected: str):
    def check(result) -> str | None:
        cols, rows = result
        got = df_digest(cols, rows)
        return None if got == expected else f"digest {got} != oracle {expected} ({len(rows)} rows)"

    return check


# ---------------------------------------------------------------------------
# ad_stream
# ---------------------------------------------------------------------------


def check_ad_state(state: dict[str, list], source_dir: Path, heavy: list[int]) -> str | None:
    """``state`` maps each sink name to its final rows (as dicts). The
    blacklist must be exactly the planted heavy clickers; every other
    user's (date, user, ad) totals must equal a recount of the input;
    the cumulative sink must hold exactly the events user_counts holds
    (both aggregate the same blacklist-filtered batches), bounded per
    key by the recounts without and with the heavy clickers."""
    import pyarrow.parquet as pq

    events = pq.read_table(sorted(source_dir.glob("*.parquet"))).to_pylist()
    heavy_set = set(heavy)
    recount: dict = {}
    cum_light: dict = {}
    cum_all: dict = {}
    for e in events:
        ckey = (e["event_date"], e["province"], e["city"], e["ad_id"])
        cum_all[ckey] = cum_all.get(ckey, 0) + 1
        if e["user_id"] in heavy_set:
            continue
        key = (e["event_date"], e["user_id"], e["ad_id"])
        recount[key] = recount.get(key, 0) + 1
        cum_light[ckey] = cum_light.get(ckey, 0) + 1

    blacklist = sorted(r["user_id"] for r in state["blacklist"])
    if blacklist != sorted(heavy):
        return f"blacklist {blacklist} != planted {sorted(heavy)}"
    counted = {
        (r["event_date"], r["user_id"], r["ad_id"]): r["click_count"]
        for r in state["user_counts"]
        if r["user_id"] not in heavy_set
    }
    if counted != recount:
        diff = set(counted.items()) ^ set(recount.items())
        return f"user_counts differ from recount on {len(diff)} keys"
    cum = {
        (r["event_date"], r["province"], r["city"], r["ad_id"]): r["click_count"]
        for r in state["cumulative"]
    }
    total_users = sum(r["click_count"] for r in state["user_counts"])
    if sum(cum.values()) != total_users:
        return f"cumulative total {sum(cum.values())} != user_counts total {total_users}"
    for key, n in cum.items():
        if not cum_light.get(key, 0) <= n <= cum_all.get(key, 0):
            return f"cumulative {key}={n} outside [{cum_light.get(key, 0)}, {cum_all.get(key, 0)}]"
    if set(cum_light) - set(cum):
        return "cumulative is missing keys of ordinary users"
    for (d, prov), n in _count_by(state["top3"], ("event_date", "province")).items():
        if n > 3:
            return f"top3 holds {n} ads for {d} {prov}"
    return None


def _count_by(rows: list[dict], keys: tuple[str, ...]) -> dict:
    out: dict = {}
    for r in rows:
        k = tuple(r[c] for c in keys)
        out[k] = out.get(k, 0) + 1
    return out
