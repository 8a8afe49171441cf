"""The benchmark's enrichment backend.

Stands in for the reference's per-row LLM call: every call sleeps a
fixed delay, then answers like ``DeterministicMockBackend``. Lives in
its own importable module because Spark's Python workers unpickle it
by reference.
"""

from __future__ import annotations

import time

from ipes_data_pipeline_spark.operators.enrich import DeterministicMockBackend


class DelayedBackend:
    def __init__(self, delay_s: float):
        self.delay_s = delay_s
        self._answer = DeterministicMockBackend()

    def __call__(self, name: str, dockets: list[str], contacts: list[str] | None = None) -> dict:
        time.sleep(self.delay_s)
        return self._answer(name, dockets, contacts)
