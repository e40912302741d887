"""Offline Batch API transport for ``OpenAIBatchClassifier``.

It answers every request with ``tests/ref_model.echo_label`` of the
request's term, so a run with it labels exactly as the reference model
does, and it counts and times each of the four remote calls. The
classifier above it runs its real driver-side path: it builds the
request JSONL, uploads, creates the batch, polls and parses the results.
"""

from __future__ import annotations

import json
import time
from collections import Counter

from tests.ref_model import echo_label

CALLS = ("upload_file", "create_batch", "get_batch", "download_file")


class CountingTransport:
    """In-process ``BatchTransport`` that completes every batch at once."""

    def __init__(self) -> None:
        self.files: dict[str, bytes] = {}
        self.batches: dict[str, str] = {}
        self.calls: Counter = Counter()
        self.seconds = 0.0
        self.requests = 0

    def _timed(self, op: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls[op] += 1

    def upload_file(self, content: bytes) -> str:
        return self._timed("upload_file", self._upload, content)

    def create_batch(self, input_file_id: str) -> str:
        return self._timed("create_batch", self._create, input_file_id)

    def get_batch(self, batch_id: str) -> tuple[str, str | None]:
        return self._timed("get_batch", self._get, batch_id)

    def download_file(self, file_id: str) -> bytes:
        return self._timed("download_file", self._download, file_id)

    def _upload(self, content: bytes) -> str:
        fid = f"file-{len(self.files)}"
        self.files[fid] = content
        self.requests += sum(1 for line in content.splitlines() if line.strip())
        return fid

    def _create(self, input_file_id: str) -> str:
        bid = f"batch-{len(self.batches)}"
        self.batches[bid] = input_file_id
        return bid

    def _get(self, batch_id: str) -> tuple[str, str | None]:
        return "completed", "out-" + self.batches[batch_id]

    def _download(self, file_id: str) -> bytes:
        lines = []
        for raw in self.files[file_id.removeprefix("out-")].decode().splitlines():
            if not raw.strip():
                continue
            task = json.loads(raw)
            term = task["body"]["messages"][-1]["content"]
            content = json.dumps({"classification": echo_label(term).upper()})
            lines.append(
                json.dumps(
                    {
                        "custom_id": task["custom_id"],
                        "response": {"body": {"choices": [{"message": {"content": content}}]}},
                    }
                )
            )
        return ("\n".join(lines) + "\n").encode()

    def snapshot(self) -> dict:
        return {
            "requests": self.requests,
            "batch_jobs": self.calls["create_batch"],
            "transport_calls": sum(self.calls[c] for c in CALLS),
            "transport_s": self.seconds,
        }
