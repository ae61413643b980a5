"""Event-loop bridge (SURVEY §2 A30): run an ASYNC per-row payload
inside executors with the reference's admission lifecycle.

The reference's engine is an asyncio HTTP dispatcher: one event loop
drains a request queue under a concurrency semaphore and a
requests-per-minute token bucket, retries transient failures with
backoff, and turns a row that keeps failing into an error row instead
of failing the run (base_online_request_processor.py:74,229-319).
Spark-side, the same lifecycle belongs INSIDE each executor's Python
worker: `mapInPandas` hands the worker an Arrow batch, the worker
runs ONE event loop over the batch's rows, and the loop applies
exactly that admission control — so a 1000-executor cluster runs
1000 independent loops, each politely bounded, with zero driver
coordination (the driver-side global alternative serializes the job).

This is the I/O-bound sibling of the CPU-bound scoring lane
(pipeline.score_turns): use Arrow UDFs when the payload is local
math, this bridge when the payload awaits something — an HTTP model
endpoint, an object-store fetch, a subprocess.

Determinism/robustness contract (mirrors A15/A17/A19/A20 semantics
already proven for the batch lanes):
* results keep the batch's row order (asyncio.gather preserves order);
* a row that exhausts retries yields (null response columns, errors=
  "<Type>: <msg>") — the job never dies on a poison row;
* the semaphore caps in-flight payloads per worker; the token bucket
  caps sustained dispatch rate per worker (set it to
  cluster_budget / n_executors);
* retries use capped exponential backoff with full jitter DISABLED —
  deterministic tests — but the backoff base is configurable.
"""

from __future__ import annotations

import asyncio
import time
from typing import Awaitable, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


class TokenBucket:
    """Async token-bucket admission limiter: `rate` acquisitions/sec
    sustained, bursts up to `capacity`. Monotonic-clock based; one
    instance per event loop (per batch), so rate is per-worker."""

    def __init__(self, rate: float, capacity: float | None = None,
                 clock: Callable[[], float] = time.monotonic) -> None:
        if rate <= 0:
            raise ValueError("rate must be > 0")
        self.rate = float(rate)
        self.capacity = float(capacity if capacity is not None
                              else max(1.0, rate))
        self.tokens = self.capacity
        self.clock = clock
        self._last = clock()

    def _refill(self) -> None:
        now = self.clock()
        self.tokens = min(self.capacity,
                          self.tokens + (now - self._last) * self.rate)
        self._last = now

    def try_acquire(self) -> float:
        """0.0 if a token was taken, else seconds until one exists.
        An epsilon of float error is forgiven — otherwise a caller
        that slept exactly the told wait can be told to sleep another
        ~1e-16 s forever (refill arithmetic is not exact)."""
        self._refill()
        if self.tokens >= 1.0 - 1e-9:
            self.tokens = max(0.0, self.tokens - 1.0)
            return 0.0
        return (1.0 - self.tokens) / self.rate

    async def acquire(self) -> None:
        while True:
            wait = self.try_acquire()
            if wait <= 0.0:
                return
            await asyncio.sleep(wait)


def run_async_payload(df: DataFrame,
                      payload: Callable[[dict], Awaitable[dict]],
                      response_fields: list[tuple[str, str]],
                      max_concurrency: int = 8,
                      requests_per_second: float | None = None,
                      max_retries: int = 2,
                      backoff_base: float = 0.01,
                      capacity_tokens: float | None = None,
                      tokens_field: str | None = None,
                      default_estimate: float = 500.0) -> DataFrame:
    """df + async payload(row_dict)→dict → df with the response
    columns appended (declared as `response_fields` name/DDL-type
    pairs) plus `errors` (null on success).

    Plan: ONE narrow mapInPandas — no shuffle, no driver round-trips;
    admission control is per-worker (see module docstring). The
    payload must be importable/picklable like any Spark closure.

    Capacity blocking (SURVEY §2 A18, the reference's moving-average
    output estimator, base_online_request_processor.py:464-468): when
    `capacity_tokens` is set, each dispatch reserves the moving
    average of the last 50 completions' `tokens_field` (seeded with
    `default_estimate`) and blocks while reserved in-flight tokens
    would exceed the cap — with the reference's no-starvation rule: a
    single over-sized estimate still admits alone.
    """
    resp_names = [n for n, _ in response_fields]
    clash = set(resp_names + ["errors"]) & set(df.columns)
    if clash:
        raise ValueError(
            "run_async_payload output columns collide with input "
            f"columns: {sorted(clash)} — rename the input columns or "
            "the response_fields (the 'errors' name is reserved)")
    if len(set(resp_names)) != len(resp_names):
        raise ValueError(f"duplicate response_fields names: {resp_names}")
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, getattr(T, "_parse_datatype_string")(t), True)
           for n, t in response_fields]
        + [T.StructField("errors", T.StringType(), True)])
    conc = int(max_concurrency)
    rps = requests_per_second
    retries = int(max_retries)
    base = float(backoff_base)

    def _mapper(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")

            async def _drain():
                from collections import deque
                sem = asyncio.Semaphore(conc)
                bucket = TokenBucket(rps) if rps else None
                mva: deque = deque(maxlen=50)
                # In-flight is tracked as BOTH a token sum and an
                # integer task count: the no-starvation gate keys on
                # the count, because repeated float add/sub of varying
                # estimates can leave a ~1e-13 residue in the sum that
                # would otherwise read as "someone is in flight" with
                # nobody left to notify the condition (deadlock).
                state = {"inflight": 0.0, "count": 0}
                cond = asyncio.Condition()

                async def one(row):
                    async with sem:
                        est = (sum(mva) / len(mva)) if mva \
                            else float(default_estimate)
                        if capacity_tokens is not None:
                            async with cond:
                                # no-starvation: admit alone even if
                                # the estimate alone exceeds the cap
                                while (state["count"] > 0
                                       and state["inflight"] + est
                                       > capacity_tokens):
                                    await cond.wait()
                                state["inflight"] += est
                                state["count"] += 1
                        try:
                            last = None
                            for attempt in range(retries + 1):
                                try:
                                    if bucket is not None:
                                        await bucket.acquire()
                                    resp = await payload(dict(row))
                                    if tokens_field is not None and \
                                            resp.get(tokens_field) \
                                            is not None:
                                        mva.append(
                                            float(resp[tokens_field]))
                                    return resp, None
                                except Exception as e:  # noqa: BLE001
                                    last = f"{type(e).__name__}: {e}"
                                    if attempt < retries:
                                        await asyncio.sleep(
                                            base * (2 ** attempt))
                            return None, last
                        finally:
                            if capacity_tokens is not None:
                                async with cond:
                                    state["inflight"] -= est
                                    state["count"] -= 1
                                    if state["count"] == 0:
                                        # flush float residue so the
                                        # next dispatch sees exactly 0
                                        state["inflight"] = 0.0
                                    cond.notify_all()

                return await asyncio.gather(*[one(r) for r in rows])

            results = asyncio.run(_drain())
            out = pdf.copy()
            for n in resp_names:
                out[n] = [None if resp is None else resp.get(n)
                          for resp, _err in results]
            out["errors"] = [err for _resp, err in results]
            yield out

    return df.mapInPandas(_mapper, out_schema)
