"""Scale probe: how does each named catalog query's wall grow when its
input grows 10x?

    python scale_probe.py name1,name2,...

Each name must be registered in ``QUERIES`` or ``TWIN_QUERIES``. The
query runs on a layout-matched 1x sf-dir and on a 10x sf-dir built
from $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata); both are
written once under .scratch/scale_probe and reused. The headline per
query is wall(10x)/wall(1x): linear work lands near 10x plus constant
overhead, a secretly all-pairs plan near 100x. Prints one JSON line on
stdout; per-query progress goes to stderr.

No sf1 testdata ships with the repo, so the 10x corpus unions 10
id-remapped, DECORRELATED copies. Decorrelation is the load-bearing
choice: a verbatim (or lightly-marked) 10x copy makes every document a
10-way near-dup, so pair outputs grow ~45x and the measurement becomes
"how fast can you emit 1000x more pairs", not "does candidate
generation stay linear" (a first probe run with one marker token per
copy measured exactly that: 971x the output pairs). Instead:

- documents: every third token gets a copy-specific suffix, so EVERY
  3-gram shingle of a copy differs from the original and from other
  copies (any 3 consecutive tokens contain a mutated position) —
  cross-copy Jaccard is 0 while within-copy structure is preserved
  (copy-mates of originally-similar docs mutate identically, so their
  similarity survives). Output pairs grow exactly 10x.
- embeddings: each copy is multiplied elementwise by a deterministic
  per-copy +-1 sign pattern — an orthogonal transform, so within-copy
  cosines are EXACTLY the originals' while cross-copy cosines shrink
  toward 0. Not all fall below a low threshold: embedding_neardup's
  pairs at cosine >= 0.45 grow 136x (SCALE.md).
- fact tables: key remapping only (see ``build_relational_corpus``);
  dimension tables are copied verbatim.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_commerce_spark import get_spark  # noqa: E402
from bigdata_commerce_spark.operators.cache_util import reset_caches  # noqa: E402

SCRATCH = Path(__file__).resolve().parent / ".scratch" / "scale_probe"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10


def build_corpus(spark) -> tuple[str, str]:
    """10 id-remapped copies of documents + embeddings, written once."""
    docs_out = str(SCRATCH / "documents10x")
    emb_out = str(SCRATCH / "embeddings10x")
    if not (Path(docs_out).exists() and Path(emb_out).exists()):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        n_docs = docs.count()
        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_emb = emb.count()
        copies = spark.range(COPIES).withColumnRenamed("id", "copy")
        (
            docs.crossJoin(F.broadcast(copies))
            .select(
                (F.col("doc_id") + F.col("copy") * F.lit(n_docs)).alias("doc_id"),
                # copy 0 = originals; copies 1..9 mutate every third
                # token (see module docstring)
                F.when(F.col("copy") == 0, F.col("text"))
                .otherwise(
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda x, i: F.when(
                                i % 3 == 0,
                                F.concat(x, F.lit("c"), F.col("copy").cast("string")),
                            ).otherwise(x),
                        ),
                        " ",
                    )
                )
                .alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .repartition(32)
            .write.parquet(docs_out)
        )
        (
            emb.crossJoin(F.broadcast(copies))
            .select(
                (F.col("vec_id") + F.col("copy") * F.lit(n_emb)).alias("vec_id"),
                # deterministic +-1 sign pattern per (copy, dim):
                # parity of a md5 nibble — orthogonal transform, see
                # module docstring; copy 0 keeps the originals
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(F.col("copy") == 0, x).otherwise(
                        x
                        * F.when(
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":",
                                            F.col("copy").cast("string"),
                                            i.cast("string"),
                                        )
                                    ),
                                    1,
                                    1,
                                ),
                                16,
                                10,
                            ).cast("int")
                            % 2
                            == 0,
                            F.lit(1.0),
                        ).otherwise(F.lit(-1.0))
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            )
            .repartition(32)
            .write.parquet(emb_out)
        )
    return docs_out, emb_out



def build_relational_corpus(spark, docs10: str, emb10: str, n_copies: int) -> str:
    """A full sf-dir at ``n_copies``x: fact tables (lineitem, orders,
    events) unioned as id-remapped copies, dimension tables copied
    verbatim (dims stay broadcast-sized as data grows — the 100 TB
    shape), and the decorrelated documents/embeddings linked in.

    Fact decorrelation = key remapping only (join keys offset by
    copy * (max_key + 1)): join integrity holds within each copy, key
    cardinality grows Nx (Nx users / orders, constant per-key fan-in),
    while value/date distributions are untouched — so group-by output
    grows where keys grow and only there, and a probe ratio near Nx
    means linear scan/shuffle work, not Nx-heavier groups.

    A 1x corpus is built through the SAME writer (32 files): the
    shipped sf0.1 facts are single parquet files, i.e. one scan task,
    so raw sf0.1-vs-10x walls would measure file-layout parallelism,
    not data growth. Layout-matched sides isolate the data term."""
    from bigdata_commerce_spark.sources.testdata import load_table

    out_dir = SCRATCH / f"sf{n_copies}x"
    done = out_dir / "_BUILT"
    if done.exists():
        return str(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)

    for dim in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(SF_DIR, f"{dim}.parquet")
        dst = out_dir / f"{dim}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)

    copies = spark.range(n_copies).withColumnRenamed("id", "copy")

    def fan_out(df, remap: dict):
        """remap: col -> stride. Strides for a SHARED key domain
        (l_orderkey / o_orderkey) must be the same number, or copy k
        of lineitem would reference different orders than copy k of
        orders writes — silent join breakage."""
        fanned = df.crossJoin(F.broadcast(copies))
        for c, stride in remap.items():
            fanned = fanned.withColumn(c, F.col(c) + F.col("copy") * F.lit(stride))
        return fanned.drop("copy").repartition(32)

    li = load_table(spark, "lineitem", SF_DIR)
    orders = load_table(spark, "orders", SF_DIR)
    order_stride = (
        max(
            li.agg(F.max("l_orderkey")).collect()[0][0],
            orders.agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    fan_out(li, {"l_orderkey": order_stride}).write.parquet(
        str(out_dir / "lineitem.parquet")
    )
    fan_out(orders, {"o_orderkey": order_stride}).write.parquet(
        str(out_dir / "orders.parquet")
    )
    ev = load_table(spark, "events", SF_DIR)
    ev_strides = {
        c: int(ev.agg(F.max(c)).collect()[0][0]) + 1 for c in ("event_id", "user_id")
    }
    fan_out(ev, ev_strides).write.parquet(str(out_dir / "events.parquet"))

    # decorrelated text/vector corpora from the dedup-probe builders;
    # the 1x twin re-lands the originals through the same 32-file
    # writer so both sides scan with equal parallelism
    if n_copies == 1:
        for name in ("documents.parquet", "embeddings.parquet"):
            spark.read.parquet(os.path.join(SF_DIR, name)).repartition(32
            ).write.parquet(str(out_dir / name))
    else:
        for src, name in ((docs10, "documents.parquet"), (emb10, "embeddings.parquet")):
            shutil.copytree(src, out_dir / name)
    done.touch()
    return str(out_dir)



def run_probe(pairs: dict, headline: str) -> dict:
    a, b = ("1x", "10x")
    out = {"metric": headline, "copies": COPIES, "ops": {}}
    for name, (fn1, fn10) in pairs.items():
        # symmetric warm-up: both sides pay one run before timing, so
        # one-time reader/codegen cost doesn't inflate only the
        # second-side number (the headline ratio)
        fn1()
        fn10()
        t0 = time.perf_counter()
        n1 = fn1()
        w1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        n10 = fn10()
        w10 = time.perf_counter() - t0
        out["ops"][name] = {
            f"wall_{a}": round(w1, 2),
            f"wall_{b}": round(w10, 2),
            "ratio": round(w10 / w1, 2),
            f"rows_{a}": n1,
            f"rows_{b}": n10,
        }
        print(f"# {name}: {w1:.2f}s -> {w10:.2f}s ({w10 / w1:.2f}x)", file=sys.stderr)
    return out


def resolve_queries(argv: list[str]) -> dict:
    """Map the comma-separated names in ``argv`` to registry functions.
    Exits non-zero naming the bad input before any Spark session or
    corpus exists."""
    usage = "usage: python scale_probe.py name1,name2,..."
    if len(argv) != 1:
        sys.exit(usage)
    names = argv[0].split(",")
    if any(not n.strip() for n in names):
        sys.exit(f"scale_probe: empty query name in {argv[0]!r}; {usage}")
    from bigdata_commerce_spark.plans import QUERIES, TWIN_QUERIES

    registry = {**TWIN_QUERIES, **QUERIES}
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"scale_probe: unknown query name(s): {', '.join(unknown)}")
    return {n: registry[n] for n in names}


def main() -> None:
    queries = resolve_queries(sys.argv[1:])
    spark = get_spark(app_name="scale_probe")
    docs10, emb10 = build_corpus(spark)
    sf1 = build_relational_corpus(spark, docs10, emb10, 1)
    sf10 = build_relational_corpus(spark, docs10, emb10, COPIES)

    def shot(fn, sf_dir: str):
        # every shot drops the data caches the previous one left, as
        # in bench.py, so a timed run never rides its warm-up's cache
        def run() -> int:
            reset_caches(spark)
            return len(fn(spark, sf_dir).collect())

        return run

    pairs = {name: (shot(fn, sf1), shot(fn, sf10)) for name, fn in queries.items()}
    print(json.dumps(run_probe(pairs, "scale_probe_10x_ratio")))
    spark.stop()


if __name__ == "__main__":
    main()
