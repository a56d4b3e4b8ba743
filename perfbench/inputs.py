"""Inputs of the workloads.

The catalog tables are fixed; the ad-click backlog is generated from
the seed, and the same seed gives byte-identical files. Generated
inputs are cached per seed under the checkout's ``.perfbench_cache/``
and are built before any timed region and before set-up is measured.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent

# The catalog suite runs over the sf0.01 copy of the TPC-H-ish test
# tables (region ... lineitem, events, documents, embeddings) kept with
# the benchmark, so a run reads nothing outside its checkout.
CATALOG_SF_DIR = HERE / "data" / "sf0.01"

# ad_stream backlog: files x events, drained AD_FILES_PER_TRIGGER at a
# time. Six one-file epochs, of which the first AD_WARM_EPOCHS are
# warm-up: they run and are checked, and count in the drain's time, but
# not in the per-epoch percentiles. Those two pay for the JVM's first
# compilation of the streaming path (in a 4-core run they took 2-3x the
# CPU of a later epoch), which is the workload's warm-up. Heavy clickers
# each click one ad AD_HEAVY_CLICKS times, inside one file, so they
# cross the blacklist threshold in that epoch.
AD_FILES = 6
AD_WARM_EPOCHS = 2
AD_EVENTS_PER_FILE = 1500
AD_FILES_PER_TRIGGER = 1
AD_USERS = 1000
AD_ADS = 20
AD_HEAVY = 3
AD_HEAVY_CLICKS = 150
AD_THRESHOLD = 100
AD_HEAVY_BASE = 1_000_000  # heavy clicker ids start here
AD_DAY = dt.datetime(2024, 3, 8, tzinfo=dt.timezone.utc)
AD_SPAN_MS = 3 * 3600 * 1000  # events fall in three hours of one day


def sizes_of(path: Path) -> dict[str, int]:
    """Rows and bytes of every parquet file under ``path``."""
    rows = nbytes = files = 0
    for f in sorted(path.rglob("*.parquet")):
        rows += pq.ParquetFile(f).metadata.num_rows
        nbytes += f.stat().st_size
        files += 1
    return {"files": files, "rows": rows, "bytes": nbytes}


def _cached(dest: Path, build) -> Path:
    """Build ``dest`` once: into a sibling temp dir, renamed into place."""
    if (dest / "_COMPLETE").exists():
        return dest
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_COMPLETE").write_text("")
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return dest


AD_SCHEMA = pa.schema(
    [
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("event_date", pa.date32()),
        ("province", pa.string()),
        ("city", pa.string()),
        ("user_id", pa.int64()),
        ("ad_id", pa.int64()),
    ]
)


def heavy_users() -> list[int]:
    return [AD_HEAVY_BASE + h for h in range(AD_HEAVY)]


def write_ad_clicks(
    out: Path,
    seed: int,
    n_files: int = AD_FILES,
    events_per_file: int = AD_EVENTS_PER_FILE,
) -> None:
    """Ad-click files in AD_EVENT_SCHEMA. Ordinary users stay far below
    the blacklist threshold; heavy clicker ``h`` puts all of its
    AD_HEAVY_CLICKS clicks on one ad inside file ``h % n_files``."""
    rng = random.Random(seed)
    provinces = [f"province{p}" for p in range(10)]
    counts: dict[tuple, int] = {}
    for f in range(n_files):
        events = []
        for _ in range(events_per_file):
            p = rng.randrange(len(provinces))
            events.append(
                (rng.randrange(AD_SPAN_MS), p, rng.randrange(4), rng.randrange(AD_USERS),
                 rng.randrange(AD_ADS))
            )
        for h, user in enumerate(heavy_users()):
            if h % n_files == f:
                ad = rng.randrange(AD_ADS)
                p = rng.randrange(len(provinces))
                events += [
                    (rng.randrange(AD_SPAN_MS), p, rng.randrange(4), user, ad)
                    for _ in range(AD_HEAVY_CLICKS)
                ]
        rng.shuffle(events)
        for _, _, _, user, ad in events:
            counts[(user, ad)] = counts.get((user, ad), 0) + 1
        times = [AD_DAY + dt.timedelta(milliseconds=ms) for ms, *_ in events]
        table = pa.Table.from_arrays(
            [
                pa.array(times, type=AD_SCHEMA.field("event_time").type),
                pa.array([t.date() for t in times], type=pa.date32()),
                pa.array([provinces[p] for _, p, *_ in events]),
                pa.array([f"{provinces[p]}_city{c}" for _, p, c, *_ in events]),
                pa.array([e[3] for e in events], type=pa.int64()),
                pa.array([e[4] for e in events], type=pa.int64()),
            ],
            schema=AD_SCHEMA,
        )
        pq.write_table(table, out / f"part-{f:05d}.parquet")
    over = {u for (u, _), n in counts.items() if n > AD_THRESHOLD}
    if over != set(heavy_users()):
        raise ValueError(f"blacklist plant failed: {sorted(over)}")


def ad_inputs(cache: Path, seed: int) -> Path:
    return _cached(
        cache / "ad" / f"seed{seed}_f{AD_FILES}_e{AD_EVENTS_PER_FILE}",
        lambda out: write_ad_clicks(out, seed),
    )
