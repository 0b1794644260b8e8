"""The shared harness of the bench rigs (``jobs/*.py``, ``bench.py`` and
``scaling_bench.py``): the host-sized session and positional arguments,
the seeded inputs the rigs synthesize or amplify, the checksum force,
best-of-N timing and the one JSON line each rig prints.

Every input here is a pure column expression over ``spark.range`` or a
stored table, so the same arguments give the same rows on any core
count.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# A planet-scale candidate side: nothing auto-broadcasts, so every join
# a rig measures on the shuffle path really is a shuffle join.
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

# The 30-word vocabulary and the cookie banner of the vocab corpus.
VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "order", "data", "column", "join",
    "small", "line", "customer", "query", "big", "window", "stream", "sort",
    "group", "vector", "filter", "the", "a",
]
BANNER = "accept all cookies to continue browsing this site"


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def argv(*defaults):
    """The positional arguments, each cast to its default's type; a
    ``None`` default is a core count that falls back to
    :func:`host_cpus`."""
    vals = []
    for i, d in enumerate(defaults, 1):
        if len(sys.argv) > i:
            vals.append((int if d is None else type(d))(sys.argv[i]))
        else:
            vals.append(host_cpus() if d is None else d)
    return vals


def session(
    name: str, cpus: int, partitions: int | None = None, conf: dict | None = None
) -> SparkSession:
    """``local[cpus]`` with ``partitions`` shuffle partitions (default
    2×cpus). The driver heap is sized from the host
    (``session.default_driver_memory``) unless ``$SPARK_DRIVER_MEM``
    sets it."""
    from osm_poi_matchmaker_spark.session import get_spark

    return get_spark(name, cpus=cpus, shuffle_partitions=partitions or cpus * 2, extra_conf=conf)


def emit(record: dict) -> None:
    """The rig's one JSON line on stdout."""
    print(json.dumps(record), flush=True)


def timed(fn: Callable, repeat: int = 1):
    """(best seconds, last result) over ``repeat`` calls of ``fn``."""
    best, out = float("inf"), None
    for _ in range(repeat):
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    return best, out


def force(df: DataFrame) -> tuple[int, int]:
    """Evaluate every column of ``df``: (row count, xor of row hashes),
    so no column can be pruned from the work."""
    row = df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    return row[0], row[1]


def noop_sec(df: DataFrame) -> float:
    """Seconds to write ``df`` to the noop sink, which materializes
    every column (``count()`` would let column pruning skip work)."""
    sec, _ = timed(lambda: df.write.format("noop").mode("overwrite").save())
    return round(sec, 3)


def cached(df: DataFrame) -> DataFrame:
    """``df`` persisted and materialized (untimed input prep)."""
    df = df.persist()
    df.count()
    return df


def workdir(name: str) -> str:
    """An emptied scratch directory for a rig's stored tables, removed
    again when the rig exits."""
    path = os.path.join(tempfile.gettempdir(), name)
    shutil.rmtree(path, ignore_errors=True)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def stored(df: DataFrame, path: str) -> DataFrame:
    """``df`` written to parquet at ``path`` and read back."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def du(path: str) -> int:
    """Bytes on disk under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def executed_plan(df: DataFrame) -> str:
    """The executed (post-AQE, once run) physical plan of ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_joins(plan: str) -> int:
    return plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")


def skew_markers(plan: str) -> int:
    """AQE skew-split markers in an executed plan."""
    return sum(plan.count(m) for m in ("skewed=true", "isSkew=true", "skew=true"))


def amplify(
    df: DataFrame,
    times: int,
    id_col: str,
    stride: int = 10_000_000,
    mega: tuple[float, float] | None = None,
) -> DataFrame:
    """``times`` replicas of the point table ``df``. Replica ``r`` keeps
    its row but for ``id_col`` + r·``stride`` and a deterministic shift
    of ``(r % 21 - 10)``·0.001° (lat up, lon down), so hotspot density
    grows smoothly and no shift exceeds 0.01°. With ``mega`` =
    (lat, lon), every 10th replica after the first moves instead into
    one cell at that point (±0.002°), a city-centre mega-cell holding a
    tenth of the rows."""
    r = F.col("_r")
    jitter = (r % 21 - 10) * 0.001
    lat, lon = F.col("lat") + jitter, F.col("lon") - jitter
    if mega is not None:
        in_mega = (r % 10 == 0) & (r > 0)
        mega_jit = (r % 41 - 20) * 0.0001
        lat = F.when(in_mega, F.lit(mega[0]) + mega_jit).otherwise(lat)
        lon = F.when(in_mega, F.lit(mega[1]) - mega_jit).otherwise(lon)
    return (
        df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(times - 1))))
        .withColumn(id_col, F.col(id_col).cast("long") + r.cast("long") * F.lit(stride).cast("long"))
        .withColumn("lat", lat)
        .withColumn("lon", lon)
        .drop("_r")
    )


def vector_corpus(spark: SparkSession, n: int, n_q: int, dim: int = 64) -> DataFrame:
    """(vec_id, embedding array<float>) for ids 0..n-1: every element an
    xxhash64 mix of (id, position) scaled to a full-mantissa float, since
    low-entropy grids flatter parquet compression of a float layout and
    real embeddings do not compress. The remainder of the signed hash
    keeps its sign, so elements fall in (-3, 1). The query shard is
    the ids divisible by ``n // n_q`` (:func:`query_shard`); the
    successor of every query id but 0 is a planted near-copy (element 0
    its own, the other dim-1 copied), so its top-1 answer is known."""
    step = n // n_q
    vid = F.col("vec_id")
    elem = lambda v, i: (  # noqa: E731
        (F.xxhash64(v * F.lit(dim) + F.lit(i)) % 2000003) / F.lit(1000001.0) - F.lit(1.0)
    ).cast("float")
    planted = (vid % step == 1) & (vid > 1)
    vec = F.array(
        elem(vid, 0),
        *[F.when(planted, elem(vid - 1, i)).otherwise(elem(vid, i)) for i in range(1, dim)],
    )
    return spark.range(n).select(F.col("id").alias("vec_id")).select("vec_id", vec.alias("embedding"))


def query_shard(corpus: DataFrame, n: int, n_q: int) -> DataFrame:
    """The ``n_q`` query rows of a :func:`vector_corpus`."""
    return corpus.where(F.col("vec_id") % (n // n_q) == 0)


def write_lists(lists: DataFrame, path: str, parts: int) -> None:
    """Store an inverted-list table range-partitioned and sorted by
    ``centroid_id``: parquet min/max stats then make a probe a
    row-group-skipping scan, the local analogue of a centroid-bucketed
    table."""
    (
        lists.repartitionByRange(parts, "centroid_id")
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def _dim_bounds(i):
    return F.element_at(F.col("mn"), i + 1), F.element_at(F.col("mx"), i + 1)


def sq8_codes(v: Column) -> Column:
    """The stored int8 layout of ``v`` against the (mn, mx) columns of
    ``similarity._sq8_dims``: ``floor((x-mn)/(mx-mn)*255+0.5) - 128`` as
    a byte, 0 on a constant dimension."""

    def code(x, i):
        mn, mx = _dim_bounds(i)
        q = F.floor((x.cast("double") - mn) / (mx - mn) * F.lit(255.0) + F.lit(0.5)) - F.lit(128)
        return F.when(mx > mn, q).otherwise(F.lit(0)).cast("byte")

    return F.transform(v, code)


def sq8_values(codes: Column) -> Column:
    """Stored :func:`sq8_codes` back to values, ``mn + code·(mx-mn)/255``:
    the reconstruction ``similarity._sq8_recon`` scores against."""

    def value(q, i):
        mn, mx = _dim_bounds(i)
        return F.when(
            mx > mn, mn + ((q.cast("double") + F.lit(128.0)) * (mx - mn)) / F.lit(255.0)
        ).otherwise(mn)

    return F.transform(codes, value)


def mean_recall(exact: DataFrame, approx: DataFrame) -> float:
    """Mean per-query recall of a top-k against the exact top-k
    (``similarity.ann_recall``)."""
    from osm_poi_matchmaker_spark.operators import similarity

    rec = similarity.ann_recall(exact, approx, "approx").agg(F.avg("recall")).collect()[0][0]
    return round(float(rec), 4)


def organic_len(doc_id: Column) -> Column:
    """Organic document length: 20..119 tokens, cycling with the id."""
    return (doc_id % 100 + 20).cast("int")


def vocab_tokens(doc_id: Column, n_tokens: Column) -> Column:
    """``n_tokens`` words of :data:`VOCAB`, the word at position i picked
    by crc32('id-i'), so trigrams are pseudo-random (stride-mixed words
    would collapse to ~30 distinct trigrams)."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    pick = lambda i: (  # noqa: E731
        F.crc32(F.concat(doc_id.cast("string"), F.lit("-"), i.cast("string"))) % 30 + 1
    ).cast("int")
    return F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), n_tokens - 1), lambda i: F.element_at(vocab, pick(i)))
    )


def hash_tokens(doc_id: Column, n_tokens: Column) -> Column:
    """``n_tokens`` tokens "t<xxhash64('id-i')>": corpus-unique, so an
    organic 8-gram repeats only through 8 consecutive 64-bit collisions.
    Not crc32: CRC is linear, so one collision between two ids
    propagates to every aligned position of the same digit length."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), n_tokens - 1),
            lambda i: F.concat(
                F.lit("t"),
                F.xxhash64(F.concat(doc_id.cast("string"), F.lit("-"), i.cast("string"))).cast(
                    "string"
                ),
            ),
        ),
    )


def vocab_corpus(spark: SparkSession, n_docs: int, parts: int, banner_tail: bool = True) -> DataFrame:
    """(doc_id, text): organic docs of :func:`vocab_tokens` at
    :func:`organic_len`; every 10th doc is the :data:`BANNER`, followed
    by 4 organic words when ``banner_tail`` (else byte-identical)."""
    pid = F.col("id")
    is_banner = pid % 10 == 0
    banner = F.concat(F.lit(BANNER + " "), vocab_tokens(pid, F.lit(4))) if banner_tail else F.lit(BANNER)
    text = F.when(is_banner, banner).otherwise(vocab_tokens(pid, organic_len(pid)))
    return spark.range(n_docs, numPartitions=parts).select(pid.alias("doc_id"), text.alias("text"))


def hash_corpus(
    spark: SparkSession, n_docs: int, parts: int, every: int, special: Column
) -> DataFrame:
    """(doc_id, text): organic docs of :func:`hash_tokens` at
    :func:`organic_len`; every ``every``-th doc is ``special`` instead,
    an expression over the id column ``id``."""
    pid = F.col("id")
    text = F.when(pid % every == 0, special).otherwise(hash_tokens(pid, organic_len(pid)))
    return spark.range(n_docs, numPartitions=parts).select(pid.alias("doc_id"), text.alias("text"))
