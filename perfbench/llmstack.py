"""LLM plumbing of the benchmark: call counting and the mock endpoint.

Counts come from three places, all exact:

- ``wrap_cost_tracking`` accumulators: requests and backend calls of
  every process (driver and executor-side Arrow UDF workers);
- :func:`split_driver_calls`: requests made in the driver process, so
  executor calls = requests - driver calls;
- on the HTTP workload, the mock endpoint's own request count.
"""

from __future__ import annotations

import os
import threading
import time

from semantic_olap_spark.llm.client import BaseLLM

_driver_requests = 0
_driver_lock = threading.Lock()


def driver_requests() -> int:
    return _driver_requests


class _DriverCounted(BaseLLM):
    def __init__(self, inner):
        self.inner = inner

    def _add(self, n: int) -> None:
        global _driver_requests
        with _driver_lock:
            _driver_requests += n

    def predict(self, prompt: str) -> str:
        self._add(1)
        return self.inner.predict(prompt)

    def predict_batch(self, batch: list[str]) -> list[str]:
        self._add(len(batch))
        return self.inner.predict_batch(batch)


def split_driver_calls(factory):
    """Factory whose products count their requests when they are built
    in the process that called this function (the driver)."""
    driver_pid = os.getpid()

    def build():
        llm = factory()
        return _DriverCounted(llm) if os.getpid() == driver_pid else llm

    return build


class SlotLLM(BaseLLM):
    """Endpoint with ``slots`` concurrent handlers that each sleep
    ``seconds`` before answering with ``inner``; tracks requests in
    flight."""

    def __init__(self, inner, seconds: float, slots: int):
        self.inner = inner
        self.seconds = float(seconds)
        self._slots = threading.BoundedSemaphore(slots)
        self._lock = threading.Lock()
        self.inflight = 0
        self.inflight_max = 0

    def predict(self, prompt: str) -> str:
        with self._slots:
            with self._lock:
                self.inflight += 1
                self.inflight_max = max(self.inflight_max, self.inflight)
            try:
                time.sleep(self.seconds)
            finally:
                with self._lock:
                    self.inflight -= 1
        return self.inner.predict(prompt)
