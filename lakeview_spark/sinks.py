"""Upload sink (SURVEY §2.1 S7).

The reference's sink is presigned-URL HTTP PUTs in per-batch groups with
retry/backoff (PresignedUrlFileUploader.java:38-119). This module keeps
that single-file PUT with the reference's semantics, behind an injected
transport. The extractor itself mirrors timeline files into a local
directory from inside its upload task (runner.py upload_table).
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterable


DEFAULT_UPLOAD_CHUNK_BYTES = 5 * 1024 * 1024  # reference stream batch size


class FileUploadError(RuntimeError):
    """Non-2xx response from the upload target (FileUploadException analog)."""


def upload_file_to_presigned_url(
    put: Callable,
    presigned_url: str,
    src_path: str,
    chunk_bytes: int = DEFAULT_UPLOAD_CHUNK_BYTES,
    max_retries: int = 3,
    base_backoff_s: float = 0.1,
    sleep: Callable[[float], None] = time.sleep,
    retryable_exceptions: tuple = (FileUploadError, OSError),
) -> int:
    """One presigned-URL PUT (PresignedUrlFileUploader.java:48-119).

    Reference semantics: files at or under the stream batch size upload
    as a single buffered body; larger files stream the SAME single PUT
    in `chunk_bytes` pieces (one request, chunked body — not multipart).
    Retry wraps the whole request with exponential backoff
    (AsyncHttpClientWithRetry semantics, which covers network failures
    too): a non-2xx status raises FileUploadError, and transport-level
    errors (connection reset / timeout surface as OSError subclasses)
    retry in the same loop via ``retryable_exceptions``; anything
    outside that tuple propagates immediately.

    ``put(url, body_iter, content_length) -> status_code`` is the
    transport — an HTTP client in production, a fake in tests. Returns
    bytes uploaded.
    """
    size = os.path.getsize(src_path)

    def body() -> Iterable[bytes]:
        with open(src_path, "rb") as f:
            if size <= chunk_bytes:
                yield f.read()
                return
            while True:
                chunk = f.read(chunk_bytes)
                if not chunk:
                    return
                yield chunk

    attempt = 0
    while True:
        try:
            status = put(presigned_url, body(), size)
            if not (200 <= status < 300):
                raise FileUploadError(
                    f"File upload failed: response code: {status}"
                )
            return size
        except retryable_exceptions:
            attempt += 1
            if attempt > max_retries:
                raise
            sleep(base_backoff_s * (2 ** (attempt - 1)))
