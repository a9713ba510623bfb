"""Cleansing expressions — the reference's ingest-time normalization.

The reference cleanses at two layers:

1. Python producers default every missing field (``x.get(k) or default``,
   ref ``spotify_metadata_to_kafka.py:36-49``) — here ``null_default``.
2. The ClickHouse materialized view coerces stringly-typed wire fields
   (ref ``001_init_spotify_tracks.sql:50-74``): best-effort timestamp
   parse with ``now()`` fallback (:54), the release-date ``YYYY`` →
   ``YYYY-01-01`` rule (:61-70), ``added_at`` falling back to
   ``ingest_ts`` (:72) — here the ``best_effort_*`` helpers.

Spark's ``from_json`` yields nulls where ClickHouse's
``input_format_null_as_default=1`` yields type defaults, so the defaulting
must be explicit. Everything below is a pure Column expression: it inlines
into whole-stage codegen and survives predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Formats actually produced by the reference pipeline: ISO-8601 with and
# without 'Z'/offset, plus plain date-time. ClickHouse `best_effort` accepts
# more; we pin to the observed wire formats (SURVEY §7 "what's hard" #2).
_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def null_default(col: Column | str, default) -> Column:
    """``x.get(k) or default`` → ``coalesce(col, lit(default))``.

    Ref: spotify_metadata_to_kafka.py:36-49 (`or ""` / `or 0` / `or []`).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(default))


def empty_string_array() -> Column:
    """ClickHouse ``emptyArrayString()`` (ref 002_views_techno.sql:36)."""
    return F.array().cast("array<string>")


def parse_timestamp(col: Column | str) -> Column:
    """``parseDateTimeBestEffortOrNull(s)``: the first pinned format that
    parses, else null. ``try_to_timestamp`` returns null instead of
    raising on mismatch, so the coalesce chain is total."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c),  # ISO-8601 / default Spark formats
        *[F.try_to_timestamp(c, F.lit(fmt)) for fmt in _TS_FORMATS],
    )


def best_effort_timestamp(col: Column | str, fallback: Column | None = None) -> Column:
    """``coalesce(parseDateTimeBestEffortOrNull(s), now())``.

    Ref: 001_init_spotify_tracks.sql:54 (ingest_ts) and :72 (added_at
    falls back to the already-parsed ingest_ts instead of now()).
    """
    if fallback is None:
        fallback = F.current_timestamp()
    return F.coalesce(parse_timestamp(col), fallback)


def parse_release_date(col: Column | str) -> Column:
    """The release-date parse before its fallback: bare ``YYYY`` (matches
    ``^[0-9]{4}$``) → ``YYYY-01-01``, anything longer → first 10 chars,
    then ``yyyy-MM-dd`` or null."""
    c = F.col(col) if isinstance(col, str) else col
    as_date_str = F.when(
        (F.length(c) == 4) & c.rlike(r"^[0-9]{4}$"),
        F.concat(c, F.lit("-01-01")),
    ).otherwise(F.substring(c, 1, 10))
    # Pinned format: bare try_to_date accepts bare ints as years ('12345' →
    # year 12345) where ClickHouse toDateOrNull yields null.
    return F.try_to_date(as_date_str, "yyyy-MM-dd")


def normalize_release_date(col: Column | str) -> Column:
    """The reference's release-date rule (001_init_spotify_tracks.sql:61-70):
    ``parse_release_date``, and ``1970-01-01`` where it is null.

    Matches Spotify's ``release_date_precision ∈ {day, year}``.
    """
    return F.coalesce(parse_release_date(col), F.to_date(F.lit("1970-01-01")))


def ingest_month(ts: Column | str) -> Column:
    """ClickHouse ``toYYYYMM(ingest_ts)`` partition key (001:21) →
    derived string partition column for ``partitionBy``."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyyMM")
