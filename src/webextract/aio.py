"""I/O-bound enrichment stage: bounded-concurrency async calls inside a
``mapInPandas`` partition — the Spark analog of the reference's async
extractor.

Reference parity: document_extraction_tools' extract stage is explicitly
async for I/O (LLM calls), gated by a semaphore
(``base/extractor/base_extractor.py:56-75``) and fanned out with bounded
in-flight requests by the orchestrator
(``runners/extraction/extraction_orchestrator.py:203-206``). The engine's
parse/clean/segment stage is pure CPU; THIS module is the pattern for the
I/O-bound stage (call a model endpoint per document, fetch a remote
resource, hit an enrichment service):

- Each Spark task drives its own asyncio event loop over its Arrow batches;
  ``max_in_flight`` bounds concurrent requests PER TASK (cluster-wide
  in-flight = max_in_flight x running tasks — size against the service's
  rate limit, exactly the reference's semaphore contract).
- Per-row failure isolation, the reference's hardest invariant
  (``extraction_orchestrator.py:232-242``): a request that raises or times
  out becomes a status='error' ROW; it never kills the task, the batch, or
  the job. Retry by filtering status != 'ok' and re-driving (the DLQ
  pattern runner.reprocess_errors applies to parse failures).
- Ordering inside a batch is preserved (results align positionally), so
  the output is deterministic given a deterministic client.

The shippable client is a SEAM (same discipline as multimodal's decoder):
any picklable factory of an :class:`AsyncClient` works — a real endpoint
needs an async HTTP dependency (aiohttp/httpx) that this package does not
install; ``FakeClient`` is the deterministic, network-free one.

Scale shape: the stage adds zero shuffles (mapInPandas over whatever
partitioning the input already has); wall-clock per task ~=
sum(latency) / max_in_flight. For a 100-TB corpus the knobs are
(partitions x max_in_flight) vs the endpoint's global rate limit — raise
partitions for throughput, lower max_in_flight to be polite.
"""

from __future__ import annotations

import asyncio
import hashlib
from collections.abc import Iterator
from typing import Callable, Protocol

from pyspark.sql import DataFrame, types as T


class AsyncClient(Protocol):
    """One async call per document; implementations may hold connections."""

    async def complete(self, text: str) -> str:  # pragma: no cover - protocol
        ...


class FakeClient:
    """Deterministic stand-in for a model endpoint (no network, no sleep
    walls): echoes a digest "summary" after a cooperative yield, tracks the
    peak number of concurrently in-flight calls so tests can assert the
    semaphore actually bounds concurrency, and fails on demand."""

    def __init__(self, fail_if: Callable[[str], bool] | None = None) -> None:
        self.fail_if = fail_if
        self.in_flight = 0
        self.peak_in_flight = 0

    async def complete(self, text: str) -> str:
        self.in_flight += 1
        self.peak_in_flight = max(self.peak_in_flight, self.in_flight)
        try:
            await asyncio.sleep(0)  # yield: lets other tasks interleave
            if self.fail_if is not None and self.fail_if(text):
                raise RuntimeError("planted endpoint failure")
            d = hashlib.md5(text.encode("utf-8")).hexdigest()[:8]
            return f"SUMMARY[{d}]({len(text)})"
        finally:
            self.in_flight -= 1


def enrich_df(df: DataFrame, client_factory: Callable[[], AsyncClient], *,
              text_col: str = "text", out_col: str = "enriched",
              max_in_flight: int = 8, timeout_s: float = 30.0) -> DataFrame:
    """Append ``(out_col, {out_col}_status, {out_col}_error)`` by driving
    bounded-concurrency async calls per partition.

    ``client_factory`` is called ONCE PER TASK (executor-side) so clients
    can hold per-task connection pools; it must be picklable.
    """
    import pandas as pd

    status_col, error_col = f"{out_col}_status", f"{out_col}_error"
    added = (out_col, status_col, error_col)
    # idempotent on re-drive: the documented retry flow feeds this
    # function's OWN output back in (filter status != 'ok'), so a previous
    # pass's result columns are replaced, never duplicated in the schema
    base_fields = [f for f in df.schema.fields if f.name not in added]
    out_schema = T.StructType(
        base_fields
        + [T.StructField(out_col, T.StringType()),
           T.StructField(status_col, T.StringType()),
           T.StructField(error_col, T.StringType())])
    out_names = [f.name for f in out_schema.fields]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # ONE event loop for the task's whole lifetime, INSTALLED as the
        # thread's current loop BEFORE the client is constructed: loop-bound
        # clients (aiohttp ClientSession, httpx AsyncClient — the real-seam
        # implementations) resolve get_event_loop() at construction, and a
        # client bound to any other loop would fail every call with
        # "attached to a different loop" (which per-row isolation would
        # silently convert to 100% error rows)
        loop = asyncio.new_event_loop()
        asyncio.set_event_loop(loop)
        client = None

        async def one(sem: asyncio.Semaphore, text: str):
            async with sem:
                try:
                    out = await asyncio.wait_for(
                        client.complete("" if text is None else str(text)),
                        timeout=timeout_s)
                    return out, "ok", None
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    return None, "error", f"{type(e).__name__}: {e}"

        async def drive(texts: list) -> list:
            sem = asyncio.Semaphore(max_in_flight)
            return await asyncio.gather(*[one(sem, t) for t in texts])

        try:
            client = client_factory()
            for pdf in batches:
                results = loop.run_until_complete(drive(list(pdf[text_col])))
                pdf = pdf.copy()
                pdf[out_col] = [r[0] for r in results]
                pdf[status_col] = [r[1] for r in results]
                pdf[error_col] = [r[2] for r in results]
                yield pdf[out_names]
        finally:
            # shut the client's connection pool down BEFORE the loop dies —
            # otherwise every finished task leaks its sockets until GC
            if client is not None:
                close = getattr(client, "aclose", None) \
                    or getattr(client, "close", None)
                if close is not None:
                    try:
                        r = close()
                        if asyncio.iscoroutine(r):
                            loop.run_until_complete(r)
                    except Exception:  # noqa: BLE001 — best-effort shutdown
                        pass
            asyncio.set_event_loop(None)
            loop.close()

    return df.mapInPandas(run, schema=out_schema)
