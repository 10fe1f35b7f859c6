"""Paginated REST ingest (reference S1, ``fetch_artifacts`` :105-152).

The reference loops pages serially on the client with a 0.1 s sleep
(≤ ~1,000 records/s). Spark-first redesign:

- **small pulls** (the reference's 2,500 records/classification):
  driver-side loop → :func:`arrow_records`, an Arrow table of
  ``RAW_ARTIFACT`` checked with PySpark's own type verifier, so a record
  ``createDataFrame`` would reject is rejected here too (pyarrow alone
  truncates ``1950.5`` into an int column). ``app.collect`` writes that
  table as parquet with pyarrow and :func:`ingest_serial` hands it to
  ``createDataFrame``: neither converts rows in Python or runs a job.
- **large backfills**: parallelize page ranges across executors with
  ``mapInPandas`` over a ``spark.range(n_pages)`` seed — each task fetches
  its own pages, so ingest scales with the cluster, bounded by a per-task
  rate limit instead of one global client.

Network access is injectable (``fetch_page``) — tests and this container
use a synthetic fetcher; a real deployment passes an HTTP client closure.
The reference's hardcoded credentials (:23-26) become parameters here.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..schemas import RAW_ARTIFACT

# fetch_page(page_number) -> list of raw artifact record dicts (<= page_size)
PageFetcher = Callable[[int], list[dict]]

PAGE_SIZE = 100  # API max (harvard_artifacts_app.py:110)
DEFAULT_TARGET = 2500  # per-classification target (:105)


def fetch_serial(
    fetch_page: PageFetcher, target_records: int = DEFAULT_TARGET
) -> list[dict]:
    """The reference's serial pagination loop (:118-143), network-agnostic:
    stop at target_records or on a short/empty page (no `info.next`)."""
    records: list[dict] = []
    page = 1
    while len(records) < target_records:
        batch = fetch_page(page)
        if not batch:
            break
        records.extend(batch[: target_records - len(records)])
        if len(batch) < PAGE_SIZE:
            break
        page += 1
    return records


def arrow_records(records: list[dict]) -> pa.Table:
    """``records`` as an Arrow table of RAW_ARTIFACT: missing keys are
    NULL and keys outside the schema are dropped. Each record is first
    checked by the verifier ``createDataFrame(records, RAW_ARTIFACT)``
    applies, so a value of the wrong type (``1950.5``, ``"1950"`` or
    ``True`` for an int) raises instead of being cast."""
    verify = _make_type_verifier(RAW_ARTIFACT)
    for record in records:
        verify(record)
    return pa.Table.from_pylist(records, schema=to_arrow_schema(RAW_ARTIFACT))


def ingest_serial(
    spark: SparkSession,
    fetch_page: PageFetcher,
    target_records: int = DEFAULT_TARGET,
) -> DataFrame:
    """Driver-side ingest → DataFrame with the explicit RAW_ARTIFACT schema."""
    return spark.createDataFrame(arrow_records(fetch_serial(fetch_page, target_records)))


def ingest_distributed(
    spark: SparkSession,
    fetch_page: PageFetcher,
    n_pages: int,
    tasks: int | None = None,
) -> DataFrame:
    """Executor-parallel ingest: each task fetches a contiguous page range.

    Records travel as JSON strings through Arrow batches, then parse into
    the explicit nested schema via ``from_json`` (JVM-side, vectorized) —
    the Python side only does IO.
    """
    import pandas as pd

    import pyspark.sql.functions as F

    seed = spark.range(1, n_pages + 1, numPartitions=tasks or min(n_pages, 32))

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for page in pdf["id"]:
                for rec in fetch_page(int(page)):
                    payloads.append(json.dumps(rec))
            yield pd.DataFrame({"raw": payloads})

    raw_json = seed.mapInPandas(_fetch, "raw string")
    parsed = raw_json.select(
        F.from_json("raw", RAW_ARTIFACT).alias("r")
    ).select("r.*")
    return parsed


class HttpPageFetcher:
    """Requests-based ``PageFetcher`` for the Harvard Art Museums API,
    mirroring the reference client (harvard_artifacts_app.py:105-152):
    GET ``{base_url}/object`` with (apikey, classification, size, page),
    a rate-limit sleep between successive page requests (:142), and the
    two stop conditions — empty ``records`` (:129) and missing
    ``info.next`` (:136). After a response without ``info.next`` this
    fetcher returns ``[]`` for later pages without touching the network,
    so the serial/distributed ingest loops need no API-specific logic.

    The transport is injectable (``transport(url, params) -> dict``) so
    tests and this container never need the network; the default uses
    ``requests`` when available. Credentials are parameters, never
    hardcoded (reference :23-26 hardcodes them).
    """

    def __init__(
        self,
        api_key: str,
        classification: str,
        base_url: str = "https://api.harvardartmuseums.org",
        page_size: int = PAGE_SIZE,
        rate_limit_s: float = 0.1,
        transport: Callable[[str, dict], dict] | None = None,
        sleep_fn: Callable[[float], None] | None = None,
    ) -> None:
        self.api_key = api_key
        self.classification = classification
        self.base_url = base_url.rstrip("/")
        self.page_size = page_size
        self.rate_limit_s = rate_limit_s
        self.transport = transport or _requests_transport
        self._sleep = sleep_fn if sleep_fn is not None else _default_sleep
        self._exhausted_after: int | None = None  # page whose info had no next
        self._requests_made = 0

    def __call__(self, page: int) -> list[dict]:
        if self._exhausted_after is not None and page > self._exhausted_after:
            return []
        if self._requests_made > 0 and self.rate_limit_s > 0:
            self._sleep(self.rate_limit_s)
        data = self.transport(
            f"{self.base_url}/object",
            {
                "apikey": self.api_key,
                "classification": self.classification,
                "size": self.page_size,
                "page": page,
            },
        )
        self._requests_made += 1
        records = data.get("records") or []
        if not records or "next" not in (data.get("info") or {}):
            self._exhausted_after = page
        return records


def _default_sleep(seconds: float) -> None:
    import time

    time.sleep(seconds)


def _requests_transport(url: str, params: dict) -> dict:
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - container has no requests
        raise RuntimeError(
            "HttpPageFetcher's default transport needs the 'requests' "
            "package; pass transport= explicitly in environments without it"
        ) from exc
    return requests.get(url, params=params).json()


def synthetic_fetcher(total_records: int, seed: int = 7) -> PageFetcher:
    """Deterministic stand-in for the Harvard Art Museums API.

    Produces records shaped like the real payload (nested colors array,
    missing fields) without any network dependency.
    """
    import random

    def fetch_page(page: int) -> list[dict]:
        start = (page - 1) * PAGE_SIZE
        end = min(start + PAGE_SIZE, total_records)
        if start >= total_records:
            return []
        out = []
        for i in range(start, end):
            rng = random.Random(seed * 1_000_003 + i)
            rec: dict = {
                "id": i,
                "title": f"Object {i}",
                "culture": rng.choice(["Byzantine", "Greek", None]),
                "classification": rng.choice(["Coins", "Paintings"]),
                "accessionyear": rng.choice([None, 1900 + rng.randint(0, 99)]),
                "imagecount": rng.randint(0, 4),
                "rank": rng.randint(0, 20),
            }
            if rng.random() < 0.7:
                rec["colors"] = [
                    {
                        "spectrum": "#aaa",
                        "hue": rng.choice(["Grey", "Red", "Blue"]),
                        "color": "#123456",
                        "percent": rng.random(),
                        "css3": "#bbb",
                    }
                    for _ in range(rng.randint(1, 7))
                ]
            out.append(rec)
        return out

    return fetch_page
