"""The start/url/close plumbing the in-process emulators share."""

from __future__ import annotations

import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class HttpFake:
    """Base of the HTTP emulators: serves a handler class on an
    ephemeral localhost port from a daemon thread."""

    def _serve_http(self, handler: type[BaseHTTPRequestHandler]) -> None:
        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


class QuietHandler(BaseHTTPRequestHandler):
    """Request handler base: no access log, plus body/reply helpers."""

    def log_message(self, *a):
        pass

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length", 0))
        return self.rfile.read(n) if n else b""

    def _reply(self, status: int, body: bytes = b"", content_type: str | None = None):
        self.send_response(status)
        if content_type is not None:
            self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)


class TcpFake:
    """Base of the TCP emulators: accepts on an ephemeral localhost port
    and runs ``self._handle(conn)`` for each connection on its own
    daemon thread."""

    def _listen(self, backlog: int = 64) -> None:
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(backlog)
        self.port = self._srv.getsockname()[1]
        self._stop = False
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self):
        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn):
        raise NotImplementedError

    def close(self):
        self._stop = True
        self._srv.close()
