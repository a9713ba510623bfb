"""REST acquisition sources (SURVEY OP-S1/OP-S2).

The reference fetches Spotify data driver-side: cursor-paginated playlist
GETs accumulated into one JSON list (spotify_ingest.py:80-134) and
batched artist enrichment, ≤50 ids per call
(spotify_artist_genres_to_kafka.py:75-91).

Spark has no native REST source, so acquisition has two forms:

- ``fetch_paginated`` — driver-side cursor loop (the reference's IR: a
  Python list of dicts). Right when one bounded feed starts the
  pipeline; the result lands as JSON and becomes a DataFrame.
- ``enrich_batched`` — DISTRIBUTED enrichment: ids hash-bucketed
  (``pmod(xxhash64(id), B)``) and fetched inside ``mapInPandas``, so at 100 TB
  the HTTP calls fan out across executors instead of serializing on the
  driver. The fetch callable is injected (tests use a fake; production
  binds an HTTP client + token).

``transport`` is always injected: `(url, params) -> dict`. No network
library is imported here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ravelytics_spark.pipeline import SkipStep

Transport = Callable[[str, dict], dict]


def fetch_paginated(
    transport: Transport,
    url: str,
    page_limit: int = 100,
    max_pages: int = 10_000,
    params: dict | None = None,
) -> list[dict]:
    """OP-S1: follow the ``next`` cursor until null, accumulate ``items``.

    Mirrors the reference loop (limit=100, items.extend, next-as-URL),
    including the skip-not-fail contract: an empty feed raises SkipStep.
    """
    items: list[dict] = []
    page_url: str | None = url
    page_params = {"limit": page_limit, **(params or {})}
    pages = 0
    while page_url and pages < max_pages:
        body = transport(page_url, page_params)
        batch = body.get("items") or []
        items.extend(batch)
        page_url = body.get("next")
        page_params = {}  # cursor URL carries its own params after page 1
        pages += 1
    if not items:
        raise SkipStep(f"no items from {url}")
    return items


def preflight(
    transport: Transport, url: str, required: Sequence[str] = ()
) -> None:
    """OP-T5 preflight: probe with limit=1; unreachable/forbidden feeds
    skip the run instead of failing it (ref spotify_ingest.py:65-78)."""
    for name in required:
        if not name:
            raise SkipStep("missing required credential/config")
    try:
        transport(url, {"limit": 1})
    except Exception as exc:
        raise SkipStep(f"preflight probe failed: {exc}") from exc


def enrich_batched(
    ids: DataFrame,
    transport: Transport,
    url_template: str,
    out_schema: T.StructType,
    batch_size: int = 50,
    num_buckets: int = 64,
) -> DataFrame:
    """OP-S2 distributed: ids hash-bucketed across executors, then
    fetched ≤``batch_size`` per REST call inside mapInPandas.

    The bucket id is the repartition key, so each executor task owns
    whole buckets; within a bucket the ids are split into ≤batch_size
    calls (the API contract). The transport returns
    ``{"records": [row-dicts]}`` per call.
    """
    id_col = ids.columns[0]
    if ids.isEmpty():
        raise SkipStep("no ids to enrich")
    # Bucket by hash-mod, NOT row_number over a global Window: a global
    # window is a single-partition sort of every id (plus a count()
    # action) — fine for the reference's 166 artists, fatal at 100×.
    # One hash, no global order; bucket sizes are approximate, so the
    # ≤batch_size API contract is enforced inside each bucket instead.
    chunked = ids.select(
        F.col(id_col).alias("__eid"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_buckets)).alias("__chunk"),
    ).repartition(min(num_buckets, 64), "__chunk")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            for _, group in pdf.groupby("__chunk"):
                id_list = list(group["__eid"])
                # cap each REST call at batch_size ids (API contract)
                for i in range(0, len(id_list), batch_size):
                    call_ids = id_list[i : i + batch_size]
                    body = transport(url_template, {"ids": ",".join(map(str, call_ids))})
                    records = body.get("records") or []
                    if records:
                        yield pd.DataFrame(records, columns=cols)

    return chunked.mapInPandas(run, out_schema)


def unique_ids_from_arrays(df: DataFrame, array_col: str) -> DataFrame:
    """The id-extraction idiom feeding enrichment (OP-J3 surface):
    explode → distinct → sort (ref spotify_artist_genres_to_kafka.py:147-156)."""
    return (
        df.select(F.explode(F.col(array_col)).alias("id"))
        .filter(F.col("id") != "")
        .distinct()
        .orderBy("id")
    )
