"""LLM enrichment operator (reference ``code/enrich_data.py``):
batched external calls via ``mapInPandas`` + a memoization cache table.

Reference semantics re-expressed for scale:

- cache probe (enrich_data.py:176-180)  → left join against the cache
  table; misses = rows with null enrichment → only those hit the backend;
- per-row ``time.sleep(21)`` (:205)     → token bucket *inside* each
  partition (politeness without idling the driver), with up to
  :data:`MAX_IN_FLIGHT` calls overlapped per partition — a backend must
  therefore be thread-safe;
- markdown-fence-stripping JSON parse + required-field/enum validation
  (:113-121) → backend-side parse + enum clamp to 'Unknown';
- periodic cache save (:200-207)        → caller appends ``new_rows`` to
  the cache Parquet after the action (exactly-once via foreachBatch in
  the streaming path).

The backend is pluggable; tests use :class:`DeterministicMockBackend`
(pure function of the name — no network, reproducible).
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.schemas import (
    INDUSTRY_SEGMENTS,
    MARKET_POSITIONS,
)

ENRICH_COLS = [
    "is_active",
    "activity_signal",
    "industry_segment",
    "product_summary",
    "market_position",
]

ENRICH_SCHEMA_DDL = (
    "normalized_name string, is_active boolean, activity_signal string, "
    "industry_segment string, product_summary string, market_position string"
)


def clamp_enums(rec: dict) -> dict:
    """Closed-enum validation (reference enrich_data.py:119-121)."""
    if rec.get("industry_segment") not in INDUSTRY_SEGMENTS:
        rec["industry_segment"] = "Unknown"
    if rec.get("market_position") not in MARKET_POSITIONS:
        rec["market_position"] = "Unknown"
    return rec


def parse_llm_json(raw: str) -> dict | None:
    """Markdown-fence-stripping JSON parse (reference enrich_data.py:113-116)."""
    s = raw.strip()
    if s.startswith("```"):
        s = s.split("\n", 1)[-1]
        s = s.rsplit("```", 1)[0]
    try:
        rec = json.loads(s)
    except (ValueError, TypeError):
        return None
    if not all(k in rec for k in ENRICH_COLS):
        return None
    return clamp_enums(rec)


#: Reference system message (enrich_data.py:89-92) — JSON-only contract.
CHAT_SYSTEM_PROMPT = (
    "You are a telecom industry analyst. Respond only with valid JSON, "
    "no markdown or other formatting."
)


def build_research_prompt(
    name: str, dockets: list[str], contacts: list[str] | None = None
) -> str:
    """The reference's research prompt, verbatim (enrich_data.py:55-80):
    company name + up to three dockets + up to three contacts, asking
    for the five enrichment fields as bare JSON — so a model tuned
    against the reference pipeline answers identically here. The
    reference driver always passes ``contacts=[]`` ("Contacts not
    available in current schema", enrich_data.py:189), which renders
    the same "Not specified" line this default does."""
    docket_info = ", ".join(dockets[:3]) if dockets else "Unknown"
    contact_info = ", ".join(contacts[:3]) if contacts else "Not specified"
    segs = ", ".join(f'"{s}"' for s in INDUSTRY_SEGMENTS)
    poss = ", ".join(f'"{p}"' for p in MARKET_POSITIONS)
    return (
        "Research the following company that filed for VoIP/IPES "
        "numbering authorization with the FCC:\n\n"
        f"Company Name: {name}\n"
        f"FCC Docket(s): {docket_info}\n"
        f"Contact/Attorney: {contact_info}\n\n"
        "Based on your knowledge, provide the following information in "
        "JSON format:\n\n"
        "1. is_active (boolean): Is this company still operating? True "
        "if the company appears to still be in business, False if "
        "defunct/acquired/closed.\n\n"
        "2. activity_signal (string): Brief evidence for your is_active "
        'determination. Example: "Website active, recent press '
        'releases" or "No web presence found, domain expired"\n\n'
        f"3. industry_segment (string): Categorize as one of: {segs}\n\n"
        "4. product_summary (string): 1-2 sentence description of what "
        "they offer. If unknown, describe based on the filing type.\n\n"
        f"5. market_position (string): Estimated scale as one of: {poss}\n\n"
        "Respond ONLY with valid JSON in this exact format, no other "
        'text:\n{"is_active": true, "activity_signal": "...", '
        '"industry_segment": "...", "product_summary": "...", '
        '"market_position": "..."}'
    )


@dataclass
class ChatHttpBackend:
    """Production enrichment backend: POSTs to an OpenAI-compatible
    chat-completions endpoint and parses the reply into the five
    enrichment fields (reference ``enrich_data.py:84-128``).

    Request/response contract matched to the reference:

    - body ``{model, messages:[system,user], max_tokens, temperature}``
      with ``Authorization: Bearer <api_key>`` (:102-108);
    - reply content read from ``choices[0].message.content`` (:110-111);
    - markdown-fence strip + JSON parse + required-field check via
      :func:`parse_llm_json` (:113-121) — an unparseable or
      field-missing reply raises ``ValueError``, which
      :func:`enrich_misses` converts into the all-null failure row the
      cache layer already refuses to memoize
      (:func:`successful_cache_rows`).

    Transport behavior beyond the reference (it aborted on any error):
    bounded retry with exponential backoff on 429/5xx/connection
    errors, honoring ``Retry-After`` when the server sends one;
    non-retryable HTTP errors (400/401/403/404) raise immediately.
    Plain-field dataclass → pickles into executor tasks; urllib is
    stdlib (no dependency). Politeness/quota is the caller's
    ``calls_per_second`` token bucket — this class does exactly one
    logical call per invocation. Thread-safe (each call builds its own
    request and holds no shared state), as :func:`enrich_misses`
    requires: up to :data:`MAX_IN_FLIGHT` calls run at once per
    partition.
    """

    base_url: str
    model: str
    api_key: str = ""
    max_tokens: int = 300
    temperature: float = 0.3
    max_retries: int = 3
    backoff_s: float = 0.2
    timeout_s: float = 60.0
    system_prompt: str = CHAT_SYSTEM_PROMPT

    def __call__(
        self, name: str, dockets: list[str], contacts: list[str] | None = None
    ) -> dict:
        payload = {
            "model": self.model,
            "messages": [
                {"role": "system", "content": self.system_prompt},
                {
                    "role": "user",
                    "content": build_research_prompt(name, dockets, contacts),
                },
            ],
            "max_tokens": self.max_tokens,
            "temperature": self.temperature,
        }
        content = self._post(payload)
        rec = parse_llm_json(content)
        if rec is None:
            raise ValueError(
                f"unparseable enrichment response for {name!r}: "
                f"{content[:200]!r}"
            )
        return rec

    def _post(self, payload: dict) -> str:
        import urllib.error
        import urllib.request

        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        data = json.dumps(payload).encode("utf-8")
        attempts = max(1, self.max_retries)
        for attempt in range(attempts):
            try:
                req = urllib.request.Request(
                    self.base_url, data=data, headers=headers, method="POST"
                )
                with urllib.request.urlopen(
                    req, timeout=self.timeout_s
                ) as resp:
                    body = json.loads(resp.read().decode("utf-8"))
                # A 200 with empty/absent `choices` is a deterministic
                # bad reply, not a transient: return "" so it flows
                # into parse_llm_json's ValueError('unparseable')
                # failure path instead of an IndexError the retry loop
                # would pointlessly replay.
                choices = body.get("choices") or [{}]
                return (choices[0] or {}).get("message", {}).get("content", "")
            except urllib.error.HTTPError as e:
                retryable = e.code == 429 or e.code >= 500
                if not retryable or attempt + 1 >= attempts:
                    raise
                delay = self.backoff_s * (2**attempt)
                retry_after = (e.headers or {}).get("Retry-After")
                if retry_after:
                    try:
                        delay = max(delay, float(retry_after))
                    except ValueError:
                        pass
                time.sleep(delay)
            except Exception:  # noqa: BLE001 — connection-level, retry
                if attempt + 1 >= attempts:
                    raise
                time.sleep(self.backoff_s * (2**attempt))
        raise AssertionError("unreachable")


class DeterministicMockBackend:
    """Network-free backend: enrichment is a pure hash of the name."""

    def __call__(
        self, name: str, dockets: list[str], contacts: list[str] | None = None
    ) -> dict:
        h = int(hashlib.sha256(name.encode()).hexdigest(), 16)
        return {
            "is_active": h % 2 == 0,
            "activity_signal": f"mock-signal-{h % 7}",
            "industry_segment": INDUSTRY_SEGMENTS[h % len(INDUSTRY_SEGMENTS)],
            "product_summary": f"mock summary for {name}",
            "market_position": MARKET_POSITIONS[h % len(MARKET_POSITIONS)],
        }


@dataclass
class TokenBucket:
    """Partition-local rate limiter: `rate` calls/sec, burst `burst`."""

    rate: float
    burst: int = 1

    def __post_init__(self):
        self._tokens = float(self.burst)
        self._last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self._tokens = min(self.burst, self._tokens + (now - self._last) * self.rate)
            self._last = now
            if self._tokens >= 1:
                self._tokens -= 1
                return
            time.sleep(min(1.0, (1 - self._tokens) / self.rate))


#: Backend calls in flight per partition. A call waits on the network
#: and the model, not on this process's CPU, so threads overlap the
#: waits. 16 covers a typical partition's miss set (the default width
#: is one partition per core, a few dozen misses each) in a few waves
#: while bounding the threads and open connections of each Python
#: worker; the request rate is ``calls_per_second``'s job, not this.
MAX_IN_FLIGHT = 16


def enrich_partition(
    batches: Iterator[pd.DataFrame],
    backend: Callable[[str, list[str]], dict],
    calls_per_second: float = 0.0,
) -> Iterator[pd.DataFrame]:
    """The per-partition body of :func:`enrich_misses`: one backend call
    per row, up to :data:`MAX_IN_FLIGHT` at once, rows out in input
    order. The token bucket runs on this (submitting) thread before each
    submit, and a submit waits for a free slot first, so every call
    starts at the bucket's pace. A call that raises yields an all-null
    row for its name only."""
    bucket = TokenBucket(calls_per_second) if calls_per_second > 0 else None
    slots = threading.BoundedSemaphore(MAX_IN_FLIGHT)

    def call(name: str, dockets: list[str]) -> dict:
        try:
            return clamp_enums(backend(name, dockets))
        except Exception:  # failure → empty struct, counted by caller
            return {}
        finally:
            slots.release()

    with ThreadPoolExecutor(MAX_IN_FLIGHT) as pool:
        for pdf in batches:
            names, futures = [], []
            for row in pdf.itertuples(index=False):
                # Arrow hands an array<string> cell to itertuples as a
                # numpy array: `raw or []` would throw ("truth value of
                # an array is ambiguous") for ANY company with 2+
                # dockets. None/NaN = null cell.
                raw = getattr(row, "dockets", None)
                dockets = (
                    []
                    if raw is None or isinstance(raw, float)
                    else list(raw)
                )
                slots.acquire()
                if bucket:
                    bucket.acquire()
                names.append(row.normalized_name)
                futures.append(pool.submit(call, row.normalized_name, dockets))
            recs = [f.result() for f in futures]
            yield pd.DataFrame(
                {
                    "normalized_name": names,
                    **{c: [r.get(c) for r in recs] for c in ENRICH_COLS},
                },
                columns=["normalized_name", *ENRICH_COLS],
            )


def enrich_misses(
    misses: DataFrame,
    backend: Callable[[str, list[str]], dict] | None = None,
    calls_per_second: float = 0.0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Run the backend for cache-miss names. Input needs columns
    ``normalized_name`` and (optionally) ``dockets array<string>``.

    ``calls_per_second`` > 0 enables the per-partition token bucket
    (cluster-wide rate ≈ n_partitions × calls_per_second — size
    ``n_partitions`` to the external API's quota, not the data).
    Calls overlap within a partition (:func:`enrich_partition`), so the
    backend must be thread-safe.
    """
    backend = backend or DeterministicMockBackend()
    has_dockets = "dockets" in misses.columns
    cols = ["normalized_name"] + (["dockets"] if has_dockets else [])
    src = misses.select(*cols).dropDuplicates(["normalized_name"])
    if n_partitions:
        src = src.repartition(n_partitions)
    else:
        # Bound the backend stage's width: callers persist() the result
        # (the memoized-cache contract), and AQE cannot coalesce a
        # cached plan's partitioning — without a quota-sized
        # n_partitions the dropDuplicates exchange would otherwise run
        # at adaptive initialPartitionNum Python tasks per (micro-)batch
        # for a miss set of a few rows. coalesce is narrow (no second
        # shuffle) and per-row enrichment is partitioning-independent.
        src = src.coalesce(src.sparkSession.sparkContext.defaultParallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return enrich_partition(batches, backend, calls_per_second)

    return src.mapInPandas(run, schema=ENRICH_SCHEMA_DDL)


def successful_cache_rows(new_cache_rows: DataFrame) -> DataFrame:
    """Only SUCCESSFUL enrichments may enter the cache table: a backend
    failure yields an all-null enrichment row, and appending it would
    (a) leave the name a permanent cache miss that re-pays the backend
    AND re-appends every run, and (b) fan out every later cache join
    with duplicate rows per name — duplicate gold rows forever. Failed
    names stay uncached and retry on the next run. Shared by the batch
    driver (pipeline/run.py) and both streaming gold sinks."""
    any_value = F.coalesce(
        *[F.col(c).cast("string") for c in ENRICH_COLS]
    ).isNotNull()
    return new_cache_rows.where(any_value)


@dataclass
class EnrichmentOutput:
    enriched: DataFrame  # input columns + 5 enrichment columns
    new_cache_rows: DataFrame  # rows to append to the cache table


def enrich_with_cache(
    companies: DataFrame,
    cache: DataFrame,
    backend: Callable[[str, list[str]], dict] | None = None,
    calls_per_second: float = 0.0,
    n_partitions: int | None = None,
) -> EnrichmentOutput:
    """Memoized enrichment: cache hits bypass the backend entirely
    (left join); only misses (left-anti) pay the external call.
    """
    # miss detection via a PRESENCE marker, not a nullable payload
    # column: a legitimately-cached record whose is_active is null would
    # otherwise look like a miss every run — re-calling the backend and
    # appending a duplicate cache row each time
    marked = cache.withColumn("__cached", F.lit(True))
    hits = companies.join(F.broadcast(marked), "normalized_name", "left")
    missing = hits.filter(F.col("__cached").isNull()).select(
        "normalized_name",
        *( ["dockets"] if "dockets" in companies.columns else [] ),
    )
    # persist: `fresh` feeds both outputs — without it every downstream
    # action would re-run the external calls (paying the API cost twice).
    fresh = enrich_misses(missing, backend, calls_per_second, n_partitions).persist()
    combined_cache = cache.unionByName(fresh)
    enriched = companies.join(F.broadcast(combined_cache), "normalized_name", "left")
    return EnrichmentOutput(enriched=enriched, new_cache_rows=fresh)
