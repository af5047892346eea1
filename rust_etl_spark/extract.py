"""HTTP extract layer — parity with the reference's transport
(/root/reference/src/api.rs:29-117), as a thin Python staging step.

Spark has no HTTP table source, so extraction stays outside the query
engine (exactly as the reference keeps it outside Polars): stream the
response to a staging file with constant memory, then hand the staged
path to the Spark-side transform. The pipeline opens one
``requests.Session`` per endpoint (``run_pipeline`` calls its session
factory for each route), so keep-alive reuse holds within an
endpoint's download, not across endpoints as the reference's single
reqwest client (api.rs:29-34) does.

``requests`` is import-gated: offline/test environments exercise the
pipeline through local files and never import it.
"""

from __future__ import annotations

import os

from rust_etl_spark.errors import ApiError, EmptyResponseError, HttpStatusError, InvalidUrlError

#: api.rs:29-34 — 300 s timeout, keep-alive client.
DEFAULT_TIMEOUT_S = 300
USER_AGENT = "rust-etl-spark-client/1.0"  # api.rs:74-79 parity
CHUNK_BYTES = 1 << 20


def require_https(url: str) -> None:
    """HTTPS-only guard (api.rs:61-66)."""
    if not url.startswith("https://"):
        raise InvalidUrlError(f"refusing non-HTTPS url: {url!r}")


def fetch_data_to_disk(session, url: str, dest_path: str) -> int:
    """GET ``url`` streaming into ``dest_path``; returns bytes written.

    Mirrors api.rs:56-117: HTTPS guard, parent mkdir, status check,
    constant-memory copy, zero-byte check (which deletes the staging
    file and raises EmptyResponse).
    """
    require_https(url)
    os.makedirs(os.path.dirname(os.path.abspath(dest_path)), exist_ok=True)
    try:
        resp = session.get(
            url,
            stream=True,
            timeout=DEFAULT_TIMEOUT_S,
            headers={"User-Agent": USER_AGENT, "Accept": "*/*"},
        )
    except Exception as e:  # transport error (api.rs ApiError::Request)
        raise ApiError(f"request failed for {url!r}: {e}") from e
    if not (200 <= resp.status_code < 300):
        raise HttpStatusError(resp.status_code, url)
    written = 0
    with open(dest_path, "wb") as f:
        for chunk in resp.iter_content(chunk_size=CHUNK_BYTES):
            if chunk:
                f.write(chunk)
                written += len(chunk)
    if written == 0:
        os.remove(dest_path)  # api.rs:109-113
        raise EmptyResponseError(f"zero-byte response from {url!r}")
    return written


def make_session():
    """One keep-alive session (api.rs:29-34 create_http_client)."""
    import requests

    return requests.Session()
