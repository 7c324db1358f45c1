"""Output check: action counts plus an order-independent change digest.

The digest covers ``(action, dataset_id, osm_pk, tags)`` of every change
row: a sha256 over the sorted rows, so it does not depend on row order
or partitioning.  The expected summary is computed from the generated
input by the reference oracle (``expected.py``), not by the program, so
every seed is checked and no run can pin its own output.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

from pyspark.sql import DataFrame


def summarize(changes: DataFrame) -> dict:
    """{"counts": {action: n}, "digest": hex} of a changes frame."""
    rows = changes.select("action", "dataset_id", "osm_type", "osm_id", "tags").collect()
    return summary_of(tuple(r) for r in rows)


def summary_of(rows) -> dict:
    """Summary of ``(action, dataset_id, osm_type, osm_id, tags)`` rows."""
    lines, counts = [], Counter()
    for action, dataset_id, osm_type, osm_id, tags in rows:
        osm_pk = None if osm_id is None else osm_type[0] + str(osm_id)
        lines.append(json.dumps([action, dataset_id, osm_pk, sorted(tags.items())]))
        counts[action] += 1
    return {
        "counts": dict(sorted(counts.items())),
        "digest": hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:32],
    }


def oracle_summary(changes: list[dict]) -> dict:
    """Summary of ``reference_model`` change rows."""
    return summary_of((c["action"], c["dataset_id"], c["osm_type"], c["osm_id"], c["tags"])
                      for c in changes)


def compare(want: dict, got: dict) -> str | None:
    """None when ``got`` matches ``want``; otherwise a one-line reason."""
    if want["counts"] != got["counts"]:
        return f"action counts {got['counts']} != expected {want['counts']}"
    if want["digest"] != got["digest"]:
        return f"digest {got['digest']} != expected {want['digest']}"
    return None
