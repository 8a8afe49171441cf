"""SparkSession factory + runtime tuning.

The driver harness owns the session it passes to ``__spark_entry__``;
``tune`` therefore only sets *runtime-settable* confs so our queries
behave deterministically (UTC timestamps, non-ANSI coercions, AQE)
regardless of who built the session.

``get_session`` also sets the static ``spark.python.daemon.module`` to
:mod:`ipes_data_pipeline_spark.worker_daemon`: its Python workers import
the interpreter's installed pyspark and py4j instead of Spark's source
zips, when the installed versions equal the ones the zips ship, and
import from the zips otherwise. Its ``spark.executorEnv.PYTHONPATH``
names this package's root, so the daemon imports whatever the driver's
cwd. A session built by the harness only gets ``tune`` and keeps Spark's
default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ipes_data_pipeline_spark import conf

#: Confs that are safe to set on a live session (all runtime-settable).
_RUNTIME_CONFS = {
    # DuckDB oracle comparisons need UTC-naive timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults to ANSI mode (casts throw). The engine's declared
    # semantics are null-on-failure coercions (reference: pd.to_datetime
    # errors="coerce", dashboard/pages/3_..._Data_Insights.py:36).
    "spark.sql.ansi.enabled": "false",
    # Runtime re-planning: coalesce tiny shuffle partitions, rewrite
    # skewed sort-merge joins, convert SMJ->BHJ when a side is small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # initialPartitionNum is set ADAPTIVELY below (_initial_partitions):
    # it must scale with input bytes, not sit at a constant tuned for
    # either regime.
    # Arrow for every pandas boundary (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The testdata's events.parquet stores TIMESTAMP(NANOS); Spark's reader
    # has no nanos type — read as long and convert in the loader (the data
    # is micro-aligned, so `timestamp_micros(ts div 1000)` is lossless).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: cache of the dataset-directory size walk — tune() runs inside every
#: registered query, and re-walking an unchanged directory per call is
#: wasted driver time (ADVICE r10).
_DIR_BYTES_CACHE: dict[str, int] = {}


def _dir_bytes(sf_dir: str) -> int:
    total = _DIR_BYTES_CACHE.get(sf_dir)
    if total is None:
        total = 0
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:  # pragma: no cover
                    pass
        _DIR_BYTES_CACHE[sf_dir] = total
    return total


def _initial_partitions(cpus: int, per_bytes: int) -> int:
    """Derive AQE's initialPartitionNum from the benched dataset size
    ($SPARK_GRAFT_SF_DIR). Without the env (cluster / test sessions)
    fall back to 256 — the measured sf10 value, and AQE coalescing
    makes over-provisioning cheap relative to under-provisioning.

    ``per_bytes`` is ``spark.ipes.initialPartitionsPerBytes``
    (:data:`conf.TABLE`); floor = ``cpus``, cap = 1024 (shuffle-block
    quadratics, guide §2.2).

    Round-11 bisect note: the r10 q43/q121p regression was NOT this
    derivation — 32 vs 256 initial partitions measured a wash (±5%) at
    sf0.1 on the simhash/minhash families (OPTIMIZATION_r11.md §1, §9);
    the cause was the simhash mask re-evaluation (functions/text.py)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return 256
    return max(cpus, min(1024, _dir_bytes(sf_dir) // per_bytes))


def cpu_count() -> int:
    """Cores the local session plans for: ``$SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on (what ``nproc`` prints). A
    malformed value raises ``ValueError`` naming the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer core count, got {raw!r}"
        ) from None


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not necessarily create."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    cpus = cpu_count()
    per = conf.get(spark, "initialPartitionsPerBytes")
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(_initial_partitions(cpus, per)),
        )
    except Exception:  # pragma: no cover - conf may be static in some builds
        pass
    # Local mode: shuffle partitions ~ cores. On a real cluster AQE
    # coalescing makes a higher initial number safe.
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    except Exception:  # pragma: no cover
        pass
    return spark


def get_session(app_name: str = "ipes_data_pipeline_spark") -> SparkSession:
    """Build (or reuse) a local session with scale-aware defaults.

    On a real cluster the same confs apply; only master/memory change.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # static: only sessions built here start workers through it, and
        # the daemon imports this package whatever the driver's cwd
        .config("spark.python.daemon.module", "ipes_data_pipeline_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(__file__)))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
