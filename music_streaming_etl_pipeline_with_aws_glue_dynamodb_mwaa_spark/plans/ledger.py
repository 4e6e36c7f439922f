"""Processing ledger: idempotent file-granular ingest (SURVEY.md §2.9).

Reproduces the observable surface of the reference's ``ProcessedStreams``
DynamoDB table (``REF/scripts/create_processedstreams_table.py:5-14``; gate
logic at ``REF/dags/music_etl_pipeline.py:34-56``): PK ``filename``, a
``status`` that transitions ``processing`` → ``processed``, and an ISO
timestamp. A file already present is skipped (the reference raises
AirflowSkipException; here the gate returns False).

Structured Streaming's file-source checkpoint subsumes this mechanism (see
streaming.filestream) — the explicit ledger exists because it is part of the
reference's API surface and supports the batch driver's exactly-once
semantics across restarts.
"""

from __future__ import annotations

import datetime

from .kvstore import KVStore

LEDGER_TABLE = "ProcessedStreams"

STATUS_PROCESSING = "processing"
STATUS_PROCESSED = "processed"
STATUS_REJECTED = "rejected"    # validation routing said stop (plans.pipeline)


class Ledger:
    def __init__(self, store: KVStore):
        self.store = store
        store.ensure_table(LEDGER_TABLE, hash_key="filename")

    @staticmethod
    def _now() -> str:
        return datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")

    def try_claim(self, filename: str) -> bool:
        """The gate (REF/dags/music_etl_pipeline.py:34-45): False if the file
        was ever seen (processing or processed), else claim it. One atomic
        conditional put — two concurrent drivers cannot both claim (the
        reference's get-then-put has exactly that race)."""
        return self.store.put_item_if_absent(LEDGER_TABLE, {
            "filename": filename, "status": STATUS_PROCESSING, "timestamp": self._now(),
        })

    def mark_processed(self, filename: str) -> None:
        """Status transition on success (REF/dags/music_etl_pipeline.py:47-56)."""
        self.store.update_item(LEDGER_TABLE, filename, {
            "status": STATUS_PROCESSED, "timestamp": self._now(),
        })

    def mark_rejected(self, filename: str) -> None:
        """Terminal state when validation routing stops the run — the file is
        consumed (never re-claimed) but recorded as rejected, not processed."""
        self.store.update_item(LEDGER_TABLE, filename, {
            "status": STATUS_REJECTED, "timestamp": self._now(),
        })

    def entries(self) -> list[dict]:
        return self.store.scan(LEDGER_TABLE)
