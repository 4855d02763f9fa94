"""S5/S6 — FHIR store snapshot sources.

The reference issues one GET per patient per resource type (N+1,
cnics_to_fhir.py:354, :543, :640, :723). The engine replaces that with bulk
snapshot reads in the FHIR_SNAPSHOT relational shape, so reconciliation is
one join per resource type.

Two paths:
- ``snapshot_from_bundles``: parse FHIR search-set Bundle JSON documents
  (from files/exports/fixtures) — pure from_json/explode, fully columnar.
  It is also the independent reference the HTTP path is tested against.
- ``snapshot_via_http``: partition-parallel paged GET via mapInPandas; the
  worker maps each resource straight to the snapshot columns (the
  50000-`_count` no-pagination hack at cnics_to_fhir.py:215-217 becomes
  real paging).

The HTTP read lives here once: ``_walk_pages`` walks one ``next``-link
chain (FHIR R4 http.html#paging) and ``_snapshot_row`` maps one resource to
a row. ``snapshot_via_http`` and the ``fhir_snapshot`` data source and
stream (``sources/fhir_datasource.py``) all read through them.
"""

from __future__ import annotations

from collections.abc import Iterator
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnics_to_fhir_spark.schemas import FHIR_SNAPSHOT

# Only the fields reconciliation consumes (identifier[0] + id + subject),
# mirroring FIXTURES.md §4. Everything else in the bundle is pruned at parse.
BUNDLE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType(), True),
        T.StructField(
            "entry",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType(
                                [
                                    T.StructField("resourceType", T.StringType(), True),
                                    T.StructField("id", T.StringType(), True),
                                    T.StructField(
                                        "subject",
                                        T.StructType(
                                            [T.StructField("reference", T.StringType(), True)]
                                        ),
                                        True,
                                    ),
                                    T.StructField(
                                        "identifier",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("system", T.StringType(), True),
                                                    T.StructField("value", T.StringType(), True),
                                                ]
                                            )
                                        ),
                                        True,
                                    ),
                                ]
                            ),
                            True,
                        )
                    ]
                )
            ),
            True,
        ),
    ]
)


def snapshot_from_bundles(bundles: DataFrame, json_col: str = "bundle_json") -> DataFrame:
    """Bundle JSON strings → FHIR_SNAPSHOT rows.

    Quirk parity: only ``identifier[0]`` is surfaced (cnics_to_fhir.py:556,
    :652, :736); ``has_identifier`` records whether the array existed at all
    (the guard Condition/Observation have but MedicationRequest lacks —
    :555 vs :652; the engine applies the guard uniformly and documents the
    divergence)."""
    parsed = bundles.select(F.from_json(F.col(json_col), BUNDLE_SCHEMA).alias("b"))
    entries = parsed.select(F.explode("b.entry").alias("e")).select("e.resource.*")
    # get() is NULL past the end: ANSI getItem(0) fails on `identifier: []`
    first = F.get(F.col("identifier"), 0)
    return entries.select(
        F.col("resourceType").alias("resource_type"),
        F.col("id"),
        F.col("subject.reference").alias("subject_ref"),
        first.getField("system").alias("identifier_0_system"),
        first.getField("value").alias("identifier_0_value"),
        F.col("identifier").isNotNull().alias("has_identifier"),
    )


# ``_snapshot_row``'s columns: FHIR_SNAPSHOT's, all nullable (a searchset
# entry may lack any of them), then meta.lastUpdated — which the data source
# keeps as its streaming cursor and ``snapshot_via_http`` drops.
SNAPSHOT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in FHIR_SNAPSHOT]
    + [T.StructField("last_updated", T.StringType())]
)


def search_token(s: str) -> str:
    """One part of a token search value, escaped (FHIR R4
    search.html#escaping: ``\\ | , $``) and percent-encoded: an unescaped
    ``,`` is an OR, a ``|`` a new system/value split and an ``&`` a new
    search parameter."""
    for c in "\\|,$":
        s = s.replace(c, "\\" + c)
    return quote(s, safe="")


def lastupdated_shards(boundaries: list[str]) -> list[str]:
    """Half-open ``_lastUpdated`` range shards from sorted date boundaries.

    ``["2020-01-01", "2021-01-01", "2022-01-01"]`` → two shards covering
    [2020, 2021) and [2021, 2022), plus open-ended head/tail shards so the
    union is exactly the full corpus regardless of data outside the range.
    Each date is percent-encoded: a ``+00:00`` offset must not reach the
    server as a space.
    """
    if not boundaries:
        raise ValueError(
            "lastupdated_shards: boundaries must be non-empty "
            "(a dynamically-built empty list would otherwise IndexError)"
        )
    b = [quote(v, safe="") for v in boundaries]
    shards = [f"_lastUpdated=lt{b[0]}"]
    for lo, hi in zip(b, b[1:]):
        shards.append(f"_lastUpdated=ge{lo}&_lastUpdated=lt{hi}")
    shards.append(f"_lastUpdated=ge{b[-1]}")
    return shards


def site_shards(sites: list[str], system_base: str) -> list[str]:
    """One shard per site — the reference's per-site databases
    (cnics_to_fhir.py:85-104) become disjoint searches. The site is the
    tail of the identifier SYSTEM (``assembly.resources.site_patient_system``),
    so each shard is the ``[system]|`` token form, which matches any value
    in that system (FHIR R4 search.html#token)."""
    return [f"identifier={search_token(system_base + site.lower())}|" for site in sites]


def search_url(base_url: str, resource_type: str, page_size: int) -> str:
    """The first page of a JSON search over one resource type."""
    return f"{base_url.rstrip('/')}/{resource_type}?_format=json&_count={page_size}"


def _walk_pages(url: str, headers: dict[str, str] | None, max_pages: int) -> Iterator[dict]:
    """Yield each searchset Bundle of the ``next``-link chain that starts at
    ``url``, over one ``requests.Session``. Raises when it stops at
    ``max_pages`` with a ``next`` link still pending: a truncated snapshot
    would read as resources missing from the store."""
    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "the FHIR snapshot read needs the 'requests' package on executors; "
            "use snapshot_from_bundles over an exported bundle instead"
        ) from e

    with requests.Session() as session:
        if headers:
            session.headers.update(headers)
        for _ in range(max_pages):
            resp = session.get(url)
            resp.raise_for_status()
            bundle = resp.json()
            yield bundle
            url = next(
                (l.get("url") for l in bundle.get("link") or [] if l.get("relation") == "next"),
                None,
            )
            if not url:
                return
    raise RuntimeError(f"stopped after max_pages={max_pages} pages with a next link pending: {url}")


def _snapshot_row(resource: dict) -> tuple:
    """One resource → the FHIR_SNAPSHOT columns plus ``meta.lastUpdated``,
    with the same identifier[0] quirk parity as ``snapshot_from_bundles``."""
    ident = resource.get("identifier")
    first = (ident[0] if ident else None) or {}
    return (
        resource.get("resourceType"),
        resource.get("id"),
        (resource.get("subject") or {}).get("reference"),
        first.get("system"),
        first.get("value"),
        ident is not None,
        (resource.get("meta") or {}).get("lastUpdated"),
    )


def _snapshot_rows(url: str, headers: dict[str, str] | None, max_pages: int) -> Iterator[tuple]:
    """Every searchset entry of one page chain as a ``_snapshot_row``."""
    for bundle in _walk_pages(url, headers, max_pages):
        for entry in bundle.get("entry") or []:
            yield _snapshot_row((entry or {}).get("resource") or {})


def _url_seed(spark: SparkSession, urls: list[str]) -> DataFrame:
    """One ``url`` row per partition, one partition per URL: a ``UNION
    ALL`` of one-row ``SELECT``s, each URL bound as a named parameter. One
    parse, no Python-row RDD, no shuffle. The unions nest as a balanced
    tree: a flat chain of a thousand fails to parse as too complex.

    Each child reports unknown partitioning, so a union of seeds (the
    per-type reads of one snapshot) keeps one task per URL. A one-slice
    ``spark.range`` seed reports ``SinglePartition``, and under
    ``spark.sql.unionOutputPartitioning`` a union of those runs as ONE task
    that walks every chain in turn. The seed also has small size statistics
    for the optimizer's broadcast and runtime-filter choices; an RDD-backed
    seed has none and reads as ``spark.sql.defaultSizeInBytes``. A
    ``VALUES`` or Arrow ``createDataFrame`` seed packs URLs beyond
    ``defaultParallelism`` into shared partitions."""

    def union(lo: int, hi: int) -> str:
        if hi - lo == 1:
            return f"SELECT :u{lo} AS url"
        mid = (lo + hi) // 2
        return f"({union(lo, mid)}) UNION ALL ({union(mid, hi)})"

    return spark.sql(union(0, len(urls)), args={f"u{i}": url for i, url in enumerate(urls)})


def snapshot_via_http(
    spark: SparkSession,
    base_url: str,
    resource_type: str,
    page_size: int = 1000,
    headers: dict[str, str] | None = None,
    max_pages: int = 10_000,
    shards: list[str] | None = None,
) -> DataFrame:
    """Partition-parallel paged GET → FHIR_SNAPSHOT. Requires ``requests``
    at runtime on executors; import is deferred so environments without it
    can still use the bundle path.

    ``shards`` is a list of FHIR search-fragment strings whose result sets
    partition the corpus (build with :func:`lastupdated_shards` /
    :func:`site_shards`). Each shard seeds its own task, which walks its own
    ``next``-link chain — so a 1000-executor cluster fetches 1000 page
    chains concurrently instead of the reference's one serial cursor
    (the ``_count=50000`` no-pagination hack, cnics_to_fhir.py:215-217).
    Without shards, one seed → one chain (correct but driver-shaped; fine
    for small stores only). Each URL keeps its own task in a union too: the
    per-type frames of one snapshot walk their chains concurrently
    (``_url_seed``)."""
    base = search_url(base_url, resource_type, page_size)
    urls = [f"{base}&{s}" for s in shards] if shards else [base]
    seed = _url_seed(spark, urls)
    columns = SNAPSHOT_SCHEMA.fieldNames()

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [row for url in pdf["url"] for row in _snapshot_rows(url, headers, max_pages)]
            yield pd.DataFrame.from_records(rows, columns=columns)

    return seed.mapInPandas(fetch, schema=SNAPSHOT_SCHEMA).drop("last_updated")
