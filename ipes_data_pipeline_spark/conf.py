"""Every ``spark.ipes.*`` session conf, declared once.

Each :data:`TABLE` entry names its full key, its type, its default and
its unit; the comment above it gives the measured reason for the
default. :func:`get` is the only reader: it parses and validates the
session value and raises ``ValueError`` naming the key, the bad value
and the expected form — a malformed conf never falls back to the
default silently (the model is Spark's own ``SQLConf`` entries).

Types:

- ``bool``: ``true`` or ``false`` (any case);
- ``bytes``: a non-negative integer byte count. ``0`` is valid and
  means "always the large-input regime";
- ``count``: a positive integer;
- ``path``: an absolute path or a filesystem URI. A spill root must
  name the same place in every executor, and a relative path resolves
  against each process's working directory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Entry:
    key: str
    kind: str
    default: object
    unit: str


_FORMS = {
    "bool": "true or false",
    "bytes": "a non-negative integer",
    "count": "a positive integer",
    "path": "an absolute path or a filesystem URI",
}

TABLE = {
    e.key.removeprefix("spark.ipes."): e
    for e in (
        # Flips EVERY cut site to fault-tolerant checkpoints at once (the
        # only switch: cut() has no per-call flag), so a 100 TB operator
        # chain assembled from library defaults needs no call-site
        # threading. Cluster side: set it to true (plus
        # `setCheckpointDir` to HDFS/S3) and all operators run in the
        # durable regime unmodified. A deployment setting.
        Entry("spark.ipes.reliableCuts", "bool", False, "flag"),
        # Scratch root for parquet spills. On a multi-node cluster this
        # (or the session checkpoint dir) MUST point at a filesystem
        # every executor can reach; a driver-local temp dir only works
        # under a local[*] master. A deployment setting; unset = the
        # checkpoint dir, then the local fallback (see util.cut).
        Entry("spark.ipes.spillDir", "path", None, "path"),
        # Catalyst input-size estimate at or above which an
        # INPUT-PROPORTIONAL intermediate (minhash_neardup_pairs' shingle
        # table, its one user) is spilled to parquet instead of
        # localCheckpoint-ed. The spill
        # is the right store when the frame is big (the round-9 sf10 A/B
        # measured localCheckpoint's deserialized row blocks at +182 s
        # vs +26 s for the spill on the 213M-row set) but costs an extra
        # write job + FS round-trip, ~0.4 s per query at sf0.1 (round-10
        # A/B). 256 MiB ~ the sf1/sf10 boundary for the documents
        # corpus. Not yet verified at sf10 (OPTIMIZATION_r11 §10).
        Entry("spark.ipes.spillMinInputBytes", "bytes", 256 << 20, "bytes"),
        # Lower threshold for PAIR-PROPORTIONAL intermediates, compared
        # with the SOURCE corpus estimate: edges grow with in-bucket
        # pair counts, 1-2 orders of magnitude past the input, so the
        # store must flip well before the input itself is spill-sized.
        # Its remaining users are the LSH edge sets util.pin_pairs pins
        # before a propagation loop. The figures are historical: they
        # were measured on q39's blocked levenshtein graph (4.3M edges
        # from 15k rows at sf0.1, 213M at sf10), which fuzzy dedup no
        # longer builds. sf10's +182 s localCheckpoint regime sits far
        # above 8 MiB, sf0.1/sf1 (where the spill's extra write job is
        # pure overhead) below. Not yet verified at sf10
        # (OPTIMIZATION_r11 §10).
        Entry("spark.ipes.edgeSpillMinInputBytes", "bytes", 8 << 20, "bytes"),
        # Read once per call, by similarity._lloyd_train (the one Lloyd
        # trainer of q72, semdedup and ivfpq_topk). Training sets whose
        # estimated bytes (rows x dim x 8) fit under this cap are
        # collected once and every round runs the numpy round kernel on
        # the driver; above it every round runs the same kernel per
        # Arrow batch, then one aggregate for all codebooks. A cluster
        # with a fat driver can raise it; 0 pins the distributed regime
        # (the 100 TB path; tests/test_conf.py holds both regimes to
        # identical rows).
        Entry("spark.ipes.pqDriverTrainMaxBytes", "bytes", 1 << 28, "bytes"),
        # Scan input bytes per initial AQE shuffle partition. Calibrated
        # on two anchors: the round-5 sf10 A/B (1.8 GB star; 256 initial
        # partitions took the exploded shingle/band plans from 393->201 s
        # / 347->145 s) and the round-10 sf0.1 interleaved A/B (17.5 MB
        # inputs; a constant 256 cost ~10% over the core count, as every
        # tiny stage still wrote 256-bucket shuffle maps). 8 MiB
        # reproduces both: sf0.1 -> the core-count floor, sf10 -> ~230.
        Entry(
            "spark.ipes.initialPartitionsPerBytes", "count", 8 << 20,
            "bytes per partition",
        ),
    )
}


def _parse(e: Entry, raw: str):
    s = raw.strip()
    if e.kind == "bool":
        if s.lower() in ("true", "false"):
            return s.lower() == "true"
    elif e.kind == "path":
        if s.startswith("/") or ":/" in s:  # absolute, or a URI
            return s.rstrip("/")
    elif s.isascii() and s.isdigit():  # no sign, no unit suffix
        n = int(s)
        if e.kind == "bytes" or n > 0:
            return n
    raise ValueError(
        f"{e.key}={raw!r} is malformed: expected {_FORMS[e.kind]} ({e.unit})"
    )


def get(spark: SparkSession, name: str):
    """The typed value of ``spark.ipes.<name>`` on ``spark``: the
    table default when unset, else the parsed session value."""
    e = TABLE[name]
    raw = spark.conf.get(e.key, None)
    return e.default if raw is None else _parse(e, raw)
