"""S7-S9 — the FHIR REST sink as a partition-parallel Bundle writer.

Replaces the reference's one-HTTP-call-per-row loop (cnics_to_fhir.py:531,
:631, :714, :899 + deletes :333, :564, :660, :744) with
``df.foreachPartition``: one connection per partition (the reference's own
``requests.Session`` optimization, :246-247, made per-executor), explicit
retry with backoff mirroring the 5×5s SQL retry policy (:163-177).

Every plan row becomes one entry of a FHIR ``transaction`` Bundle: insert →
POST {type}, update → PUT {type}/{id} with that ``id`` in the body (FHIR R4
http.html#update), delete → DELETE {type}/{id}, a
Patient delete cascading (``?_cascade=delete``, :333). Bundles hold about
``WriterConfig.bundle_size`` rows each and are grouped by patient: a new
Patient's create and every row whose subject references it travel in one
transaction, the Patient entry first, under a deterministic ``fullUrl:
urn:uuid:`` that the dependents' ``subject.reference`` already holds
(``job.resolve_patient_ids``). The server rewrites those references to the
id it assigns (FHIR R4 bundle.html#references), so no placeholder survives
one run.

Replay safety: PUT/DELETE replay safely, and every create is conditional
(``ifNoneExist``) on the resource's ``identifier[0]`` system and value, so
a replayed transaction — a Spark task retry, or an envelope retry after a
committed transaction's response was lost — re-creates nothing that landed.

Counters (A5, :309-320) come back through Spark accumulators, and they are
exact: Spark applies an action's accumulator updates once per successful
task and drops those of a failed attempt, so a retried task counts each
entry once, from the attempt that succeeded.  ``action_counts`` over the
plan gives the same per-action numbers without a write.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark.sources.fhir import search_token

# columns the writer adds to the plan: a new Patient's fullUrl, and the
# group a row must share a transaction with
_FULL_URL = "__full_url"
_GROUP = "__group"


@dataclass(frozen=True)
class WriterConfig:
    base_url: str
    headers: tuple[tuple[str, str], ...] = ()
    max_retries: int = 5  # cnics_to_fhir.py:163 (5 attempts)
    retry_sleep_s: float = 5.0  # :171 (5 s); scaled down in tests
    timeout_s: float = 30.0
    # the server's Bundle size limit: transactions hold about this many
    # entries each, cut only between patients (a new Patient and its
    # dependents never split), so one exceeds it by at most one patient's rows
    bundle_size: int = 100


def patient_full_url(system: Column, value: Column) -> Column:
    """``urn:uuid:`` fullUrl of a new Patient's create entry: the md5 of
    ``<system>|<value>`` laid out as a UUID. It is deterministic, so a
    retried task resends the same one, and it differs between identifier
    systems, so two sites' patients with the same SitePatientId never
    share one. NULL when either part is NULL."""
    h = F.md5(F.concat(system, F.lit("|"), value))
    parts = [F.substring(h, pos, n) for pos, n in ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))]
    return F.concat(F.lit("urn:uuid:"), F.concat_ws("-", *parts))


def _send(session, cfg: WriterConfig, body: str):
    last_exc: Exception | None = None
    headers = {"Content-Type": "application/fhir+json;charset=utf-8"}
    for attempt in range(cfg.max_retries):
        try:
            resp = session.post(cfg.base_url, data=body, headers=headers, timeout=cfg.timeout_s)
            resp.raise_for_status()  # E2 (cnics_to_fhir.py:534 etc.)
            return resp
        except Exception as exc:  # noqa: BLE001 — retry loop mirrors E1
            last_exc = exc
            if attempt + 1 < cfg.max_retries:
                time.sleep(cfg.retry_sleep_s)
    raise RuntimeError(f"POST {cfg.base_url} failed after {cfg.max_retries} attempts") from last_exc


def _if_none_exist(resource: dict, key: str | None) -> str | None:
    """The conditional-create search for one new resource: its
    identifier[0] as ``identifier=<system>|<value>`` — so another site's
    resource with the same value does not turn the create into a no-op —
    or ``identifier=<key>`` when it has no identifier. The plan's ``key``
    column IS identifier[0].value (operators/merge.py), so the condition
    matches exactly what the merge classified on."""
    ident = (resource.get("identifier") or [{}])[0]
    if ident.get("system") and ident.get("value"):
        return f"identifier={search_token(ident['system'])}|{search_token(ident['value'])}"
    return None if key is None else f"identifier={search_token(key)}"


def _bundle_entry(row) -> dict:
    row = row.asDict()
    rtype, action = row["resource_type"], row["action"]
    if action == "insert":
        resource = json.loads(row["body_json"])
        request = {"method": "POST", "url": rtype}
        cond = _if_none_exist(resource, row.get("key"))
        if cond is not None:
            request["ifNoneExist"] = cond
        entry = {"resource": resource, "request": request}
        if row.get(_FULL_URL):
            entry = {"fullUrl": row[_FULL_URL], **entry}
        return entry
    if action == "update":
        # FHIR R4 http.html#update: the body's id SHALL equal the URL's
        resource = {**json.loads(row["body_json"]), "id": row["id"]}
        return {
            "resource": resource,
            "request": {"method": "PUT", "url": f"{rtype}/{row['id']}"},
        }
    if action == "delete":
        url = f"{rtype}/{row['id']}"
        if rtype == "Patient":
            url += "?_cascade=delete"
        return {"request": {"method": "DELETE", "url": url}}
    raise ValueError(f"unknown action {action!r}")


def _post_bundle(session, cfg: WriterConfig, chunk: list, counters) -> None:
    """POST one transaction Bundle and check EVERY entry's response
    status: the response comes from outside, and a 200 envelope with a
    failed entry inside must still fail the task, not silently drop
    writes."""
    bundle = {
        "resourceType": "Bundle",
        "type": "transaction",
        "entry": [_bundle_entry(row) for row in chunk],
    }
    try:
        resp = _send(session, cfg, json.dumps(bundle))
    except Exception:
        # an exhausted retry counts every entry as failed
        counters["failed"].add(len(chunk))
        raise
    body = resp.json()
    entries = body.get("entry") if isinstance(body, dict) else None
    if (
        not isinstance(body, dict)
        or body.get("resourceType") != "Bundle"
        or not isinstance(entries, list)
        or len(entries) != len(chunk)
    ):
        counters["failed"].add(len(chunk))
        raise RuntimeError(
            f"bundle response is not a {len(chunk)}-entry Bundle: "
            f"{str(body)[:200]}"
        )
    bad = []
    for i, (row, ent) in enumerate(zip(chunk, entries)):
        status = str(((ent or {}).get("response") or {}).get("status") or "")
        if status.startswith("2"):
            counters[row["action"]].add(1)
        else:
            counters["failed"].add(1)
            bad.append((i, row["action"], row["resource_type"], status or "<missing>"))
    if bad:
        raise RuntimeError(f"bundle entries failed: {bad[:10]}")


def group_by_patient(plan: DataFrame) -> DataFrame:
    """The plan laid out for bundling: each new Patient's insert gets its
    fullUrl and shares a group, a partition and a contiguous run of rows
    with every row whose ``subject.reference`` is that fullUrl, the Patient
    first. Any other row is a group of its own, hashed on (type, action,
    key or else id), so those rows — deletes included — spread over all
    partitions, each placed by what it is and not by the id the server
    happened to assign it. Within a partition rows sort on (group, Patient
    first, type, key). One shuffle."""
    body = F.col("body_json")
    new_patient = (F.col("resource_type") == "Patient") & (F.col("action") == "insert")
    full_url = F.when(
        new_patient,
        patient_full_url(
            F.get_json_object(body, "$.identifier[0].system"),
            F.get_json_object(body, "$.identifier[0].value"),
        ),
    )
    subject = F.get_json_object(body, "$.subject.reference")
    group = F.coalesce(
        F.col(_FULL_URL),
        F.when(subject.startswith("urn:uuid:"), subject),
        F.concat_ws("/", "resource_type", "action", F.coalesce("key", "id")),
    )
    return (
        plan.withColumn(_FULL_URL, full_url)
        .withColumn(_GROUP, group)
        .repartition(plan.sparkSession.sparkContext.defaultParallelism, _GROUP)
        .sortWithinPartitions(_GROUP, F.col(_FULL_URL).isNull(), "resource_type", "key")
    )


def write_action_plan(plan: DataFrame, cfg: WriterConfig) -> dict[str, int]:
    """Execute an action plan ``(resource_type, action, id, key,
    body_json)`` against the FHIR endpoint.

    ``group_by_patient`` lays the plan out so a new Patient and its
    dependents are contiguous, and each partition POSTs ``transaction``
    Bundles to the base URL, cutting a Bundle once it holds
    ``cfg.bundle_size`` entries and the next row starts a new group. Every
    entry's response status is checked. The Patient entry's ``fullUrl`` is
    the ``urn:uuid:`` its dependents reference, which the server resolves
    to the id it assigns.

    Retry/idempotence: a failed POST is retried whole; PUT/DELETE replay
    safely and creates are conditional on the resource's identifier system
    and value, so a replayed transaction re-creates nothing.
    Returns {action: count} gathered via accumulators.  The counts are
    exact: Spark applies the updates of the successful attempt of each
    task only.  ``failed`` is 0 in every returned dict — the updates of a
    failing attempt are dropped, and a write whose retries run out raises
    instead of returning.  Failures reach no record yet; ROADMAP
    Direction 1 replaces the accumulators with per-entry outcome rows.
    """
    sc = plan.sparkSession.sparkContext
    counters = {
        a: sc.accumulator(0) for a in ("insert", "update", "delete", "failed")
    }
    headers = dict(cfg.headers)

    def post_partition(rows) -> None:
        import requests  # deferred: executors need it only when actually writing

        session = requests.Session()
        session.headers.update(headers)
        chunk: list = []
        for row in rows:
            if len(chunk) >= cfg.bundle_size and row[_GROUP] != chunk[-1][_GROUP]:
                _post_bundle(session, cfg, chunk, counters)
                chunk = []
            chunk.append(row)
        if chunk:
            _post_bundle(session, cfg, chunk, counters)

    group_by_patient(plan).foreachPartition(post_partition)
    return {k: v.value for k, v in counters.items()}
