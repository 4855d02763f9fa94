"""S5/S6 — FHIR store snapshot sources.

The reference issues one GET per patient per resource type (N+1,
cnics_to_fhir.py:354, :543, :640, :723). The engine replaces that with bulk
snapshot reads parsed into the FHIR_SNAPSHOT relational shape, so
reconciliation is one join per resource type.

Two paths:
- ``snapshot_from_bundles``: parse FHIR search-set Bundle JSON documents
  (from files/exports/fixtures) — pure from_json/explode, fully columnar.
- ``snapshot_via_http``: partition-parallel GET with pagination via
  mapInPandas (requests gated behind import-try; the 50000-`_count`
  no-pagination hack at cnics_to_fhir.py:215-217 becomes real paging).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    return entries.select(
        F.col("resourceType").alias("resource_type"),
        F.col("id"),
        F.col("subject.reference").alias("subject_ref"),
        F.col("identifier").getItem(0).getField("system").alias("identifier_0_system"),
        F.col("identifier").getItem(0).getField("value").alias("identifier_0_value"),
        F.col("identifier").isNotNull().alias("has_identifier"),
    )


def lastupdated_shards(boundaries: list[str]) -> list[str]:
    """Half-open ``_lastUpdated`` range shards from sorted date boundaries.

    ``["2020-01-01", "2021-01-01", "2022-01-01"]`` → two shards covering
    [2020, 2021) and [2021, 2022), plus open-ended head/tail shards so the
    union is exactly the full corpus regardless of data outside the range.
    """
    if not boundaries:
        raise ValueError(
            "lastupdated_shards: boundaries must be non-empty "
            "(a dynamically-built empty list would otherwise IndexError)"
        )
    shards = [f"_lastUpdated=lt{boundaries[0]}"]
    for lo, hi in zip(boundaries, boundaries[1:]):
        shards.append(f"_lastUpdated=ge{lo}&_lastUpdated=lt{hi}")
    shards.append(f"_lastUpdated=ge{boundaries[-1]}")
    return shards


def site_shards(sites: list[str], system: str) -> list[str]:
    """One identifier-system shard per site — the reference's per-site
    databases (cnics_to_fhir.py:85-104) become disjoint search shards."""
    return [f"identifier={system}%7C{site}*" for site in sites]


def snapshot_via_http(
    spark: SparkSession,
    base_url: str,
    resource_type: str,
    page_size: int = 1000,
    headers: dict[str, str] | None = None,
    max_pages: int = 10_000,
    shards: list[str] | None = None,
    trace_tasks: bool = False,
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
    for small stores only)."""
    base = f"{base_url}/{resource_type}?_format=json&_count={page_size}"
    urls = [f"{base}&{s}" for s in shards] if shards else [base]
    # one task per shard: each walks its own next-chain in parallel. A
    # one-row-per-partition range picks its URL in the JVM, so seeding runs
    # no Python-row RDD and no shuffle.
    seed = spark.range(0, len(urls), 1, len(urls)).select(
        F.element_at(F.array(*map(F.lit, urls)), F.col("id").cast("int") + 1).alias("url")
    )

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        try:
            import requests
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "snapshot_via_http needs the 'requests' package on executors; "
                "use snapshot_from_bundles over an exported bundle instead"
            ) from e

        from pyspark import TaskContext

        session = requests.Session()
        if headers:
            session.headers.update(headers)
        # opt-in debug header tracing which task fetched each chain (the
        # test suite uses it to prove shard-parallelism); OFF by default so
        # production fetches send nothing nonstandard to real servers
        if trace_tasks:
            tc = TaskContext.get()
            if tc is not None:
                session.headers["X-Task-Partition"] = str(tc.partitionId())
        for pdf in batches:
            out = []
            for url in pdf["url"]:
                next_url, pages = url, 0
                while next_url and pages < max_pages:
                    resp = session.get(next_url)
                    resp.raise_for_status()
                    bundle = resp.json()
                    out.append(__import__("json").dumps(bundle))
                    pages += 1
                    next_url = next(
                        (l.get("url") for l in bundle.get("link", []) if l.get("relation") == "next"),
                        None,
                    )
            yield pd.DataFrame({"bundle_json": out})

    bundles = seed.mapInPandas(fetch, schema="bundle_json string")
    return snapshot_from_bundles(bundles)
