"""S7-S9 — the FHIR REST sink as a partition-parallel batched writer.

Replaces the reference's one-HTTP-call-per-row loop (cnics_to_fhir.py:531,
:631, :714, :899 + deletes :333, :564, :660, :744) with
``df.foreachPartition``: one connection per partition (the reference's own
``requests.Session`` optimization, :246-247, made per-executor), explicit
retry with backoff mirroring the 5×5s SQL retry policy (:163-177).
PUT/DELETE replay safely. POSTs are safe to replay only in bundle mode,
whose entries carry ``ifNoneExist`` by default: per-row mode sends a bare
POST with no ``If-None-Exist`` header, so a Spark task retry that replays
a partition creates again every resource that already landed. The merge
classification (insert only when the key is absent) runs once, against
the snapshot taken before the write, and does not guard a replay. A
conditional per-row create is the open fix, ROADMAP.md Direction 3.

Counters (A5, :309-320) come back through Spark accumulators and — exactly —
from ``action_counts`` over the plan itself.

Two transport modes: per-row (reference parity — one request per resource)
and FHIR ``transaction``/``batch`` Bundles (``WriterConfig.bundle_size=N``:
N plan rows per POST with a per-entry response-status check), which removes
the per-row HTTP round-trip — the write-path ceiling at 100 TB.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class WriterConfig:
    base_url: str
    headers: tuple[tuple[str, str], ...] = ()
    max_retries: int = 5  # cnics_to_fhir.py:163 (5 attempts)
    retry_sleep_s: float = 5.0  # :171 (5 s); scaled down in tests
    timeout_s: float = 30.0
    cascade_patient_delete: bool = True  # ?_cascade=delete (:333)
    # bundle_size > 0 switches to FHIR `transaction`/`batch` Bundle POSTs of
    # at most this many entries each — N plan rows per HTTP round-trip
    # instead of one, the write-path ceiling at scale. 0 keeps the
    # reference-parity per-row mode (cnics_to_fhir.py:531-533).
    bundle_size: int = 0
    bundle_type: str = "transaction"  # or "batch" (independent entries)
    # Bundle-mode POST entries carry `ifNoneExist: identifier={key}`
    # (FHIR conditional create) so a Spark task retry that replays a
    # partially-applied `batch` bundle — or a zombie retry of an already-
    # committed `transaction` — cannot insert the same resource twice.
    # The plan's `key` column IS identifier[0].value (operators/merge.py),
    # so the condition matches exactly what the merge classified on.
    conditional_create: bool = True


def _send(session, cfg: WriterConfig, method: str, url: str, body: str | None):
    import requests  # deferred: executors need it only when actually writing

    last_exc: Exception | None = None
    for attempt in range(cfg.max_retries):
        try:
            resp = session.request(
                method,
                url,
                data=body,
                headers={"Content-Type": "application/fhir+json;charset=utf-8"} if body else None,
                timeout=cfg.timeout_s,
            )
            resp.raise_for_status()  # E2 (cnics_to_fhir.py:534 etc.)
            return resp
        except Exception as exc:  # noqa: BLE001 — retry loop mirrors E1
            last_exc = exc
            if attempt + 1 < cfg.max_retries:
                time.sleep(cfg.retry_sleep_s)
    raise RuntimeError(f"{method} {url} failed after {cfg.max_retries} attempts") from last_exc


def _entry_url(cfg: WriterConfig, rtype: str, rid: str) -> str:
    url = f"{rtype}/{rid}"
    if rtype == "Patient" and cfg.cascade_patient_delete:
        url += "?_cascade=delete"
    return url


def _bundle_entry(cfg: WriterConfig, row) -> dict:
    rtype, action = row["resource_type"], row["action"]
    if action == "insert":
        request = {"method": "POST", "url": rtype}
        key = row["key"] if "key" in row else None
        if cfg.conditional_create and key is not None:
            request["ifNoneExist"] = f"identifier={key}"
        return {
            "resource": json.loads(row["body_json"]),
            "request": request,
        }
    if action == "update":
        return {
            "resource": json.loads(row["body_json"]),
            "request": {"method": "PUT", "url": f"{rtype}/{row['id']}"},
        }
    if action == "delete":
        return {"request": {"method": "DELETE", "url": _entry_url(cfg, rtype, row["id"])}}
    raise ValueError(f"unknown action {action!r}")


def _post_bundle(session, cfg: WriterConfig, chunk: list, counters) -> None:
    """POST one transaction/batch Bundle and check EVERY entry's response
    status — a 200 envelope with a failed entry inside (the `batch` mode
    contract) must still fail the task, not silently drop writes."""
    bundle = {
        "resourceType": "Bundle",
        "type": cfg.bundle_type,
        "entry": [_bundle_entry(cfg, row) for row in chunk],
    }
    try:
        resp = _send(session, cfg, "POST", cfg.base_url, json.dumps(bundle))
    except Exception:
        # transport-level failure counts every entry as failed — parity
        # with per-row mode, where an exhausted retry still increments
        # counters["failed"] before the raise
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


def write_action_plan(plan: DataFrame, cfg: WriterConfig) -> dict[str, int]:
    """Execute an action plan against the FHIR endpoint.

    Per-row mode (``bundle_size=0``): insert → POST /{type}; update →
    PUT /{type}/{id}; delete → DELETE /{type}/{id} (Patient deletes
    cascade, :333). Bundle mode (``bundle_size=N``): rows are grouped N
    per ``transaction``/``batch`` Bundle POSTed to the base URL, with a
    per-entry response-status check.

    Retry/idempotence: PUT/DELETE replay safely in every mode. Per-row
    POSTs carry no ``If-None-Exist``, so a replayed partition duplicates
    the creates that already landed (open: ROADMAP.md Direction 3). POST
    entries in bundle mode carry ``ifNoneExist: identifier={key}``
    (conditional create, on by default) so a replayed partition —
    a ``batch`` bundle that partially applied before an entry failed, or
    a zombie retry of a committed ``transaction`` — re-creates nothing.
    With ``conditional_create=False``, ``batch`` bundles are NOT safe
    under Spark task retry (already-applied POSTs duplicate server-side)
    — only disable it against a store that rejects ifNoneExist.
    Accumulator caveat: counters are task-lifetime totals, so a retried
    task re-counts its successful entries; treat counts as at-least-once
    telemetry (the authoritative per-action counts come from
    ``action_counts`` over the plan itself).
    Returns {action: count} gathered via accumulators.
    """
    sc = plan.sparkSession.sparkContext
    counters = {
        a: sc.accumulator(0) for a in ("insert", "update", "delete", "failed")
    }
    headers = dict(cfg.headers)

    def run_bundled(rows) -> None:
        import requests

        session = requests.Session()
        session.headers.update(headers)
        chunk: list = []
        for row in rows:
            chunk.append(row)
            if len(chunk) >= cfg.bundle_size:
                _post_bundle(session, cfg, chunk, counters)
                chunk = []
        if chunk:
            _post_bundle(session, cfg, chunk, counters)

    def run_partition(rows) -> None:
        import requests

        session = requests.Session()
        session.headers.update(headers)
        for row in rows:
            rtype, action = row["resource_type"], row["action"]
            try:
                if action == "insert":
                    _send(session, cfg, "POST", f"{cfg.base_url}/{rtype}", row["body_json"])
                elif action == "update":
                    _send(
                        session, cfg, "PUT",
                        f"{cfg.base_url}/{rtype}/{row['id']}", row["body_json"],
                    )
                elif action == "delete":
                    _send(
                        session, cfg, "DELETE",
                        f"{cfg.base_url}/{_entry_url(cfg, rtype, row['id'])}", None,
                    )
                counters[action].add(1)
            except Exception:
                counters["failed"].add(1)
                raise  # let Spark's task retry handle it (idempotent writes)

    plan.foreachPartition(run_bundled if cfg.bundle_size > 0 else run_partition)
    return {k: v.value for k, v in counters.items()}
