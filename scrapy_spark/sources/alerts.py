"""Alert records on pipeline events — the AlertManager graft.

Rebuilds ``Scraping_project/src/common/alerts.py:37-181`` (AlertManager:
severity-tiered Alert records, ``stage_failed`` / ``pipeline_complete``
convenience hooks, a JSONL file channel at ``_save_alert`` :137-144, and the
severity-threshold gate ``_should_alert`` :130-135) in the engine's shapes:

- the ``alerts`` catalog table: severity-tagged rows committed ATOMICALLY
  with the generation that produced them (breaker-open per host,
  generation-complete). Deterministic columns only — generation is the
  logical clock, no wall time — so resume bit-identity and crawl parity
  hold with alerts on.
- ``<workdir>/alerts.jsonl``: the driver-side file channel for events that
  cannot live in a commit — ``stage_failed`` fires while the generation's
  transaction is being abandoned, ``pipeline_complete`` fires after the
  final commit. Append-only JSONL, same shape as the reference's alert_file.

Email/webhook channels are a declared non-goal (network side effects); the
JSONL channel is the pluggable seam the reference's FileChannel occupies.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

ALERTS_JSONL = "alerts.jsonl"

# alerts.py:132 severity ladder
SEVERITY_LEVELS = {"info": 0, "warning": 1, "error": 2, "critical": 3}


def meets_threshold(severity: str, threshold: str) -> bool:
    """_should_alert (alerts.py:130-135): severity >= threshold."""
    return SEVERITY_LEVELS.get(severity, 0) >= SEVERITY_LEVELS.get(threshold, 2)


def py_breaker_alert_rows(budget_rows: list[dict], gen: int) -> list[dict]:
    """Circuit-breaker openings → warning rows, over the staged host_budget
    delta read driver-side (CrawlJob reads the per-generation rollup via
    pyarrow — one row per active host — to avoid a per-generation Spark
    job). Host-sorted for a deterministic table order."""
    out = []
    for r in sorted(budget_rows, key=lambda r: r["host"]):
        if r["state"] != "open":
            continue
        out.append(
            {
                "generation": gen,
                "severity": "warning",
                "event": "breaker_open",
                "stage": "rate_control",
                "host": r["host"],
                "message": (
                    f"circuit opened after {r['consec']} consecutive "
                    "failures; budget 0 for one generation"
                ),
            }
        )
    return out


def generation_complete_row(gen: int, n_scheduled: int) -> dict:
    """Per-generation completion record (the stage-level pipeline_complete)."""
    return {
        "generation": gen,
        "severity": "info",
        "event": "generation_complete",
        "stage": "crawl_generation",
        "host": None,
        "message": f"{n_scheduled} urls scheduled+fetched",
    }


def validation_degraded_row(gen: int, rate: float, threshold: float) -> dict:
    """Schema pass rate below 1.0 but above the abort threshold — the
    warning band between healthy and stage_failed."""
    return {
        "generation": gen,
        "severity": "warning",
        "event": "validation_degraded",
        "stage": "interstage_validation",
        "host": None,
        "message": f"schema pass rate {rate:.4f} (abort below {threshold})",
    }


def append_jsonl(workdir: str, severity: str, event: str, message: str,
                 stage: str | None = None, **metadata) -> None:
    """The file channel (alerts.py:137-144 _save_alert): append one JSON
    object per line. Wall-clock timestamps are fine HERE — this file is a
    log, never a parity/bit-identity surface."""
    rec = {
        "severity": severity,
        "event": event,
        "message": message,
        "stage": stage,
        "timestamp": datetime.now(timezone.utc).isoformat(),
    }
    if metadata:
        rec["metadata"] = metadata
    with open(os.path.join(workdir, ALERTS_JSONL), "a", encoding="utf-8") as fh:
        fh.write(json.dumps(rec, ensure_ascii=False) + "\n")
