"""S5/S6 as a first-class Spark data source — SURVEY §7.3's named future
work ("a DataSourceV2 FHIR connector with filter pushdown"), built on
PySpark 4's Python Data Source API instead of a JVM DSv2 shim.

``spark.read.format("fhir_snapshot")`` returns the rows of
:func:`cnics_to_fhir_spark.sources.fhir.snapshot_via_http` plus
``meta.lastUpdated``: both read through ``sources.fhir``'s one page walk and
one resource→row mapping. Two scale levers on top:

- **Partition planning**: the ``shards`` option (comma-separated FHIR
  search fragments, built with ``lastupdated_shards``/``site_shards``)
  becomes one InputPartition per shard — Spark schedules each shard's
  ``next``-link page chain as its own task, so a 1000-executor cluster
  walks 1000 chains concurrently.
- **Filter pushdown (prune and recheck)**: with
  ``spark.sql.python.filterPushdown.enabled``, equality predicates on
  ``subject_ref`` / ``identifier_0_value`` / ``id`` become escaped FHIR
  search parameters (``subject=`` / ``identifier=`` / ``_id=``), so the
  server sends only candidate resources. FHIR's ``identifier=v`` matches
  ANY identifier of a resource, not just identifier[0], so every filter —
  pushed or not — is also yielded back to Spark and applied after
  transfer: a pushed parameter only prunes what is transferred, never
  decides the result. Spark refuses (loudly) to plan a
  pushFilters-bearing reader while the conf is off — environments that
  keep it off opt out with ``option("pushdown", "false")``, which selects
  a reader variant with no pushFilters at all.

The reference's shape this replaces: one GET per patient per resource type
(cnics_to_fhir.py:354, :543, :640, :723) under a ``_count=50000``
no-pagination hack (:215-217).
"""

from __future__ import annotations

from typing import Iterator, Sequence
from urllib.parse import quote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from cnics_to_fhir_spark.sources.fhir import (
    SNAPSHOT_SCHEMA,
    _snapshot_rows,
    search_token,
    search_url,
)

# snapshot column -> FHIR search parameter (equality pushdown map)
_PUSHABLE = {
    ("subject_ref",): "subject",
    ("identifier_0_value",): "identifier",
    ("id",): "_id",
}


def _search_options(options, what: str) -> tuple[str, int]:
    """(first-page search URL, max pages) from the ``url``,
    ``resourceType``, ``pageSize`` and ``maxPages`` options."""
    url = options.get("url")
    if not url:
        raise ValueError(f"{what} requires the 'url' option (store base URL)")
    search = search_url(
        url, options.get("resourcetype", "Condition"), int(options.get("pagesize", "1000"))
    )
    return search, int(options.get("maxpages", "10000"))


class _Shard(InputPartition):
    def __init__(self, url: str):
        self.url = url


class PlainFhirSnapshotReader(DataSourceReader):
    """The no-pushdown variant: Spark REFUSES to plan a reader that
    implements pushFilters() while spark.sql.python.filterPushdown.enabled
    is false (loud error, not silent degradation), so environments that
    keep the conf off opt into this class with option("pushdown", "false")
    — same partitions, same page walking, every filter evaluated by Spark
    after transfer."""

    def __init__(self, options):
        self.search, self.max_pages = _search_options(options, "fhir_snapshot")
        self.shards = [s for s in (options.get("shards") or "").split(",") if s]
        self.pushed: list[str] = []

    def partitions(self):
        extra = "".join(f"&{p}" for p in self.pushed)
        if self.shards:
            return [_Shard(f"{self.search}&{s}{extra}") for s in self.shards]
        return [_Shard(self.search + extra)]

    def read(self, partition: _Shard):
        return _snapshot_rows(partition.url, None, self.max_pages)


class FhirSnapshotReader(PlainFhirSnapshotReader):
    """The default reader: adds FHIR search-param pushdown.  Requires
    spark.sql.python.filterPushdown.enabled=true (Spark rejects a
    pushFilters-bearing reader otherwise — by design, loudly)."""

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        """Send equality filters on the _PUSHABLE columns as escaped FHIR
        search params, and yield EVERY filter back for Spark to evaluate:
        a token search matches any identifier of a resource, so a pushed
        param prunes the transfer but cannot decide the rows."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) in _PUSHABLE
                and isinstance(f.value, str)
            ):
                param = _PUSHABLE[tuple(f.attribute)]
                self.pushed.append(f"{param}={search_token(f.value)}")
            yield f


class FhirSnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fhir_snapshot"

    def schema(self):
        return SNAPSHOT_SCHEMA

    def reader(self, schema) -> PlainFhirSnapshotReader:
        if (self.options.get("pushdown") or "true").lower() == "false":
            return PlainFhirSnapshotReader(self.options)
        return FhirSnapshotReader(self.options)

    def simpleStreamReader(self, schema) -> "FhirUpdatesStreamReader":
        return FhirUpdatesStreamReader(self.options)


# ---------------------------------------------------------------------------
# Streaming: incremental _lastUpdated tailing (spark.readStream)
# ---------------------------------------------------------------------------

class FhirUpdatesStreamReader(SimpleDataSourceStreamReader):
    """Tail a FHIR store's updates as a Structured Streaming source:
    ``spark.readStream.format("fhir_snapshot")`` polls
    ``_lastUpdated=gt{cursor}`` each micro-batch and advances the cursor to
    the max ``meta.lastUpdated`` seen, so reconciliation becomes
    *backfill once (batch source, sharded) + tail the delta forever* —
    the incremental shape the reference's full-store re-fetch
    (cnics_to_fhir.py:354) cannot express.

    Offsets are checkpointed by Spark; recovery replays a committed range
    via ``readBetweenOffsets`` (gt start, le end) — the server is the
    source of truth for the replay, which is exactly how a _lastUpdated
    cursor is meant to be used.  SimpleDataSourceStreamReader fetches on
    the DRIVER: right for delta-sized polls (the backfill path is the
    sharded batch reader above).  A poll that would need more than
    ``maxPages`` pages fails rather than advance the cursor past what it
    never read.  Known cursor hazard, documented not hidden: a resource
    committed server-side with a lastUpdated equal to an already-advanced
    cursor is skipped (the strict-gt boundary); real deployments poll with
    a lag watermark (the ``since`` option) behind the server clock, the
    same discipline as any timestamp-cursor CDC."""

    def __init__(self, options):
        self.search, self.max_pages = _search_options(options, "fhir_snapshot stream")
        self.since = options.get("since", "1970-01-01T00:00:00Z")

    def initialOffset(self) -> dict:
        return {"last_updated": self.since}

    def _fetch(self, fragment: str) -> list[tuple]:
        return list(_snapshot_rows(f"{self.search}&{fragment}", None, self.max_pages))

    def read(self, start: dict):
        rows = self._fetch(f"_lastUpdated=gt{quote(start['last_updated'], safe='')}")
        # a poll can return entries that all lack meta.lastUpdated (a
        # server that strips meta): hold the cursor rather than letting
        # max() over an empty generator kill the stream
        stamps = [r[6] for r in rows if r[6] is not None]
        if stamps:
            return iter(rows), {"last_updated": max(stamps)}
        return iter(rows), dict(start)

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            self._fetch(
                f"_lastUpdated=gt{quote(start['last_updated'], safe='')}"
                f"&_lastUpdated=le{quote(end['last_updated'], safe='')}"
            )
        )
