"""Shared operator utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipes_data_pipeline_spark import conf

#: pair cells (pairs × per-pair width) per grouped-kernel chunk: bounds
#: the memory of any group and keeps a chunk's rows in cache
CHUNK_CELLS = 1 << 18

#: parquet-spill scratch dirs created by cut(via_parquet=True) in this
#: process. Freed at interpreter exit, or earlier via release_spills()
#: — a spill must outlive every action on the returned frame, so the
#: library cannot free it per-call; long-lived processes that loop over
#: spilling operators (each util.pin_pairs spill of an LSH edge set
#: grows with pair counts, not input bytes) should call
#: release_spills() between iterations once the returned frames are
#: dead.
_SPILL_DIRS: list[str] = []


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem that owns ``path``
    — the same API the spill was written with, so HDFS/S3/local scratch
    all clean up correctly (a driver-side shutil.rmtree would remove
    only the empty local dir when the default FS is remote)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def release_spills(spark: SparkSession | None = None) -> int:
    """Free every parquet-spill scratch dir created so far; returns the
    count freed. Call only when no DataFrame returned by a spilling
    ``cut`` is still live. With no active session the local-path spills
    are removed directly; remote-FS paths need a live ``spark``."""
    spark = spark or SparkSession.getActiveSession()
    freed = 0
    while _SPILL_DIRS:
        d = _SPILL_DIRS.pop()
        local = d.removeprefix("file:")  # schemeless or file: => local disk
        try:
            if spark is not None:
                _fs_delete(spark, d)
            elif "://" not in local:
                shutil.rmtree(local, ignore_errors=True)
        except Exception:
            if "://" not in local:
                shutil.rmtree(local, ignore_errors=True)
        freed += 1
    return freed


atexit.register(release_spills)


def _spill_root(spark: SparkSession) -> str | None:
    """Resolve where parquet spills go: ``spark.ipes.spillDir`` if set,
    else the session checkpoint dir (already a shared, durable FS on a
    real cluster), else None (caller decides the local-mode fallback)."""
    root = conf.get(spark, "spillDir")
    if root is not None:
        return root
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is not None:
        return ckpt.rstrip("/")
    return None


def spill_worthwhile(df: DataFrame, threshold: str = "spillMinInputBytes") -> bool:
    """True when ``df``'s Catalyst size estimate reaches the byte
    threshold named by ``threshold`` in :data:`conf.TABLE`. Callers
    materializing an intermediate PROPORTIONAL to ``df`` pass the
    result as ``cut(..., via_parquet=...)``; callers whose intermediate
    grows FASTER than the input (edge sets) name
    ``"edgeSpillMinInputBytes"`` instead."""
    thr = conf.get(df.sparkSession, threshold)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est >= thr


def pin_pairs(src_df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize a PAIR-PROPORTIONAL frame (LSH candidate pairs / edge
    sets) before iterative consumption — the q133/_cluster_docs lesson:
    a propagation loop references its edge set once per round, and an
    un-materialized band self-join + distinct would re-execute every
    round. Store regime follows the pair-proportional edge threshold
    keyed on the SOURCE corpus size (``src_df``), because pair counts
    grow 1–2 orders of magnitude faster than the input (see
    ``edgeSpillMinInputBytes`` in :data:`conf.TABLE`)."""
    return cut(pairs, via_parquet=spill_worthwhile(src_df, "edgeSpillMinInputBytes"))


def cut(df: DataFrame, via_parquet: bool = False) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — the repo's standard
    barrier before a frame is referenced from multiple plan subtrees
    (self-joins, iterative rounds, multi-pass shards).

    Two durability regimes, chosen by the session conf
    ``spark.ipes.reliableCuts`` (:data:`conf.TABLE`) for every cut in
    the session at once, with no call-site flag:

    - ``false`` (default): ``localCheckpoint(eager=True)``. Blocks live
      on executor local store — fastest, and the right default for
      interactive/bench work — but NOT fault-tolerant: lose one
      executor mid-job and the lineage is gone, the job dies.
    - ``true``: ``checkpoint(eager=True)`` to the session's checkpoint
      directory (``spark.sparkContext.setCheckpointDir`` — HDFS/S3 on a
      real cluster). Survives executor loss; this is the regime a
      multi-hour 100 TB run must use on every operator that cuts
      lineage, at the price of one distributed write+read.

    Third regime, for LARGE intermediates: ``via_parquet=True`` spills
    the frame to a columnar scratch dir and returns the re-read —
    compressed, off-heap, schema-preserving. Round-9 measurement
    (SCALING.md, q39's 213M-row edge set at sf10, fresh process per
    variant): raw compute 204 s, +182 s with
    localCheckpoint (the deserialized row blocks thrash a 48 GB heap),
    **+26 s with the parquet spill** — 7× cheaper materialization at
    scale, within noise of localCheckpoint on small frames. This is the
    regime for operators that materialize row sets PROPORTIONAL TO THE
    DATA (edge lists, pair candidates); small reused frames (labels,
    centroids, top-k lists) stay on the default.

    Where the spill lands (first match wins):

    1. ``spark.ipes.spillDir`` — set it to a scratch root on a shared
       filesystem (HDFS/S3) for any multi-node deployment. The spill
       then inherits that filesystem's durability, so ``via_parquet``
       also satisfies ``reliableCuts`` (the conf is a declaration that
       the root is shared+durable).
    2. The session checkpoint dir, if set — same shared-FS reasoning.
    3. A driver-local temp dir — ONLY under a ``local[*]`` master,
       where driver and executors share one machine. On a cluster
       master with neither conf this raises instead of silently
       producing a scratch path the executors cannot all reach.

    When ``reliableCuts`` is set and the spill root resolved to the
    driver-local fallback (3), the call honors the durability contract
    by degrading to ``checkpoint(eager=True)`` rather than writing a
    non-durable spill.

    Scratch dirs are freed at interpreter exit through the owning
    Hadoop FileSystem (or earlier via :func:`release_spills`).

    Order-sensitive callers beware: parquet re-read does NOT pin
    partition ids the way the checkpoint regimes do — do not use under
    a ``spark_partition_id`` consumer (the prefix-sum shard contract) —
    and column nullability loosens to nullable on the round trip
    (names/types/values are exact).

    Both checkpoint regimes pin partition contents AND partition ids,
    so downstream ``spark_partition_id`` determinism (the prefix-sum
    shard contract — SCALING.md case study) holds identically.
    """
    spark = df.sparkSession
    reliable = conf.get(spark, "reliableCuts")
    if via_parquet:
        root = _spill_root(spark)
        if root is None:
            master = spark.conf.get("spark.master", "local")
            if not master.startswith("local"):
                raise ValueError(
                    "cut(via_parquet=True) on a non-local master needs a "
                    "shared scratch filesystem: set "
                    f"{conf.TABLE['spillDir'].key} or "
                    "sparkContext.setCheckpointDir to an executor-"
                    "reachable path (a driver-local temp dir is not)"
                )
            if reliable:
                # local fallback scratch is not durable; honor the
                # reliable contract through the checkpoint regime
                return df.checkpoint(eager=True)
            path = tempfile.mkdtemp(prefix=f"ipes_cut_{uuid.uuid4().hex[:8]}_")
        else:
            path = f"{root}/ipes_cut_{uuid.uuid4().hex[:8]}"
        _SPILL_DIRS.append(path)
        df.write.mode("overwrite").parquet(path)
        return spark.read.schema(df.schema).parquet(path)
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-built frame (centroids, keys, quantiles, empty
    results) as a Catalyst ``LocalRelation``, built through Arrow.

    ``rows`` are tuples (or Rows) in ``schema`` order; ``schema`` is a
    StructType or a DDL string. ``createDataFrame`` of a Python list
    would plan a ``LogicalRDD`` over pickled rows: its scan starts a
    Python worker (the first in a process forks the worker daemon) and
    its size estimate is unbounded. An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` lands on the
    driver as a ``LocalRelation`` with exact size stats, so joins
    broadcast it without a hint and no Python worker runs.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY if the input is under-parallel.

    CPU-heavy per-row stages (minhash signatures, simhash bits, rolling
    hashes) inherit the scan's partitioning; a small parquet file can be
    a single row-group → a single task hogging one core while 31 idle.
    At real scale the input already has ≥ parallelism partitions and this
    is a no-op — so the shuffle cost is only ever paid when it buys
    actual parallelism on small inputs.
    """
    target = min_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def sub_salt(
    df: DataFrame, keys: list[str], cap: int | None, id_col: str
) -> DataFrame:
    """Attach ``sub``: the one skew valve of the blocked pair operators.

    A group of ``keys`` holding more than ``cap`` rows splits into
    ``ceil(size / cap)`` sub-groups by ``md5(id)[:8] % n``, and pairs
    then form only inside one sub-group: per-task pair work drops from
    O(size²) to O(size·cap), at the price of recall in exactly the
    capped groups. ``cap=None`` gives ``sub = 0`` everywhere. Every
    term is ANSI-SQL-expressible, so an oracle can repeat the salt and
    check the valve in its firing regime.

    Group sizes come from a map-side-combined ``groupBy`` broadcast
    back — a window partitioned by the keys would itself serialize on
    the skewed group (measured on the simhash valve, SCALING.md), while
    the ``groupBy`` shuffles one row per distinct key.
    """
    if cap is None:
        return df.withColumn("sub", F.lit(0))
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("bsz"))
    n_sub = F.greatest(F.lit(1), F.ceil(F.col("bsz") / cap))
    salt = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_sub
    )
    # left join: a NULL key matches no size row, so it gets one sub-group
    # (n_sub = 1, sub = 0) and, like any NULL key, pairs with nothing
    return df.join(F.broadcast(sizes), keys, "left").withColumn("sub", salt).drop("bsz")


def group_apply(
    df: DataFrame, keys: list[str], fn: Callable, schema: str
) -> DataFrame:
    """The grouped pair pass: one hash exchange on ``keys``, rows
    sorted by ``keys`` within each partition, and ``fn`` mapping an
    Arrow table of one or more WHOLE ``keys`` groups to an output table
    of ``schema``. A group that spills over an Arrow batch is held back
    until it is complete, so a call never sees part of a group.

    Whole groups go through one call together, not one ``applyInArrow``
    call each: Spark's per-group call costs ~0.1 ms, and LSH buckets are
    mostly singletons (20,000 one-row groups: 2.4 s grouped against
    0.6–0.8 s batched; q42 at sf0.1 has 18,847 buckets; 4 vCPU).

    The exchange takes its partition count from the cores: the row
    shuffle is small next to the O(b²) pair work behind it, and AQE
    would coalesce it by bytes into one task (q39 at sf0.1 and at a
    generated sf1 on 4 cores: one task for 15 and 150 blocks).
    """
    n = df.sparkSession.sparkContext.defaultParallelism

    def run(batches):
        held = []  # the last group seen, perhaps not yet complete
        for b in batches:
            tbl = pa.Table.from_batches(held + [b])
            last = int(np.searchsorted(group_ends(tbl, keys), tbl.num_rows))
            if last:
                yield from fn(tbl.slice(0, last)).to_batches()
            held = tbl.slice(last).to_batches()
        if held:
            yield from fn(pa.Table.from_batches(held)).to_batches()

    return df.repartition(n, *keys).sortWithinPartitions(*keys).mapInArrow(run, schema)


def group_ends(tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """For a table sorted by ``keys``: the exclusive end of each row's
    group (NULL keys compare equal, as in ``groupBy``)."""
    start = np.arange(tbl.num_rows) == 0
    for k in keys:
        col = tbl.column(k)
        eq = pc.fill_null(pc.equal(col[1:], col[:-1]), False).to_numpy(False)
        null = col.is_null().to_numpy(False)
        start[1:] |= ~(eq | null[1:] & null[:-1])
    first = np.flatnonzero(start)
    return np.append(first[1:], tbl.num_rows)[np.cumsum(start) - 1]


def pair_chunks(
    ends: np.ndarray, step: int
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Index pairs ``(i, j)`` with ``i < j < ends[i]``, ``step`` pairs at
    a time in row-major order, never as one triangle. ``ends[i]`` is the
    end of row ``i``'s group for every pair in the group, or ``i + 1``
    for a row that starts no pair (a corpus row among probes: probes
    sort first and pair once with each later row of their group)."""
    per_row = np.maximum(ends - 1 - np.arange(len(ends)), 0)
    first = np.cumsum(per_row) - per_row  # pair index of (i, i + 1)
    total, step = int(per_row.sum()), max(1, step)
    for p0 in range(0, total, step):
        p = np.arange(p0, min(p0 + step, total))
        i = np.searchsorted(first, p, side="right") - 1
        yield i, p - first[i] + i + 1
