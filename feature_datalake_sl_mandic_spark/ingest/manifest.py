"""Changed-tables manifest (JSON) — control-plane handoff between change
detection and ingestion.

Parity with the reference's GCS manifest: write
(``verifica_carga_slmandicprd.py:103-110``), tolerant read
(``Sites/Dag_ingest/ingest_slmandicprd.py:28-39``: missing file or corrupt
JSON -> empty list, so downstream skips cleanly, ``:49-51``). The manifest is
control-plane (a provably-small table list), so plain json beats a Spark job
here — matching the reference's role split (SURVEY.md §2.1 S12/S13).
"""

from __future__ import annotations

import json
import os


def write_json(path: str, payload: object) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic: readers never see a torn file


def write_manifest(path: str, tables: list[str]) -> None:
    write_json(path, sorted(tables))


def read_manifest(path: str) -> list[str]:
    """Missing or corrupt manifest -> [] (reference semantics)."""
    try:
        with open(path) as f:
            data = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return []
    if not isinstance(data, list):
        return []
    return [str(t) for t in data]
