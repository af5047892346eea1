"""Loopback HTTPS server for the envelope corpus.

Serves each manifest endpoint's body (or its injected HTTP error) from
memory. Requests are handled by a fixed pool of ``threads`` workers, so
the server never runs more threads than the host has cores. The TLS
certificate is a throwaway self-signed one for ``127.0.0.1``; clients
trust it through ``requests.Session.verify``.
"""

from __future__ import annotations

import datetime
import ipaddress
import os
import ssl
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import unquote


def write_self_signed_cert(cert_path: str, key_path: str) -> None:
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import NameOID

    key = ec.generate_private_key(ec.SECP256R1())
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(hours=1))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(x509.SubjectAlternativeName([x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]),
                       critical=False)
        .add_extension(x509.BasicConstraints(ca=True, path_length=None), critical=True)
        .sign(key, hashes.SHA256())
    )
    with open(key_path, "wb") as f:
        f.write(key.private_bytes(serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
                                  serialization.NoEncryption()))
    with open(cert_path, "wb") as f:
        f.write(cert.public_bytes(serialization.Encoding.PEM))


class _PooledHTTPServer(HTTPServer):
    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="envelope-server")

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def handle_error(self, request, client_address):
        pass  # a client that hangs up mid-body is not a server fault


class EnvelopeServer:
    """``with EnvelopeServer(corpus_dir, manifest, threads) as base_url:``"""

    def __init__(self, corpus_dir: str, manifest: dict, threads: int):
        self.routes: dict[str, tuple[int, bytes]] = {}
        for ep in manifest["endpoints"]:
            body = b""
            if ep["body"]:
                with open(os.path.join(corpus_dir, ep["body"]), "rb") as f:
                    body = f.read()
            self.routes[ep["route"]] = (ep["http_status"], body)
        self.cert = os.path.join(corpus_dir, "server.crt")
        self.key = os.path.join(corpus_dir, "server.key")
        self.threads = threads
        self._httpd: _PooledHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def __enter__(self) -> str:
        write_self_signed_cert(self.cert, self.key)
        routes = self.routes

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                status, body = routes.get(unquote(self.path), (404, b""))
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if status == 200:
                    self.wfile.write(body)

            def log_message(self, *args):
                pass

        httpd = _PooledHTTPServer(("127.0.0.1", 0), Handler, self.threads)
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(self.cert, self.key)
        httpd.socket = ctx.wrap_socket(httpd.socket, server_side=True, do_handshake_on_connect=False)
        self._httpd = httpd
        self._thread = threading.Thread(target=httpd.serve_forever, kwargs={"poll_interval": 0.05},
                                        name="envelope-server", daemon=True)
        self._thread.start()
        return f"https://127.0.0.1:{httpd.server_address[1]}"

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._thread.join(timeout=10)
        self._httpd.pool.shutdown(wait=True)
        self._httpd.server_close()

    def make_session(self):
        """A keep-alive client session that trusts the server's certificate."""
        import requests

        s = requests.Session()
        s.trust_env = False  # a CA-bundle or proxy variable would override verify
        s.verify = self.cert
        return s
