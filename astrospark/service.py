"""Thin HTTP service over the driver-side extraction path.

Mirrors the reference's REST surface
(/root/reference/src/main/java/org/grobid/service/AstroRestService.java:70-84,
request handling AstroProcessString.java:32-81):

  POST /processAstroText   form field ``text`` (or raw body)
                           → { "entities": [...], "runtime": ms }
  GET  /health             → { "status": "ok" }

Response fidelity: each entity carries the reference's AstroEntity.toJson
fields (AstroEntity.java:198-236) — ``rawForm``, ``type`` ("OBJECT",
AstroLexicon.Astro_Type.getName), ``offsetStart``/``offsetEnd``, ``conf``
(reference default 0.8, serialized as a string exactly like the Java
``"conf" : "0.8"``) — so a reference client can switch endpoints without
parsing changes. ``POST /processAstroText?format=spans`` returns the
engine's native span records (seq, kind, text, media_ref, offset)
instead — the contract schema the cluster job emits. Input text gets the
reference's REST-path newline/tab→space normalization
(AstroProcessString.java:41 — length-preserving, offsets unaffected);
blank input → 204 No Content (AstroParser.java:96-98 null-result path).

Pure stdlib (http.server, ThreadingHTTPServer) — NO Spark session is
created: AstroEngine.process_text runs the Arrow kernel driver-side,
exactly what a request/response endpoint should do (the cluster path is
for tables, not single strings). Each handler thread calls
``process_text`` once per request; concurrent requests share kernel
calls (one ``extract_batch`` over every text that arrived while the
previous call ran), so a response's ``runtime`` includes the wait for
the engine's kernel lock.

Run: python -m astrospark.service [port]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from astrospark.api import AstroEngine

MAX_BODY_BYTES = 10 * 1024 * 1024  # 413 above this — one request must not
# buffer an unbounded declared length into memory (ADVICE r2)

ENTITY_CONF = "0.8"  # AstroEntity.java:56 default, serialized as string


def spans_to_entities(spans: list[dict]) -> list[dict]:
    """Engine span records → reference AstroEntity JSON fields
    (AstroEntity.java:198-236). Only object spans are entities on the
    REST path (a plain-text request has no media rows anyway)."""
    return [
        {
            "rawForm": s["text"],
            "type": "OBJECT",
            "offsetStart": s["offset"],
            "offsetEnd": s["offset"] + len(s["text"]),
            "conf": ENTITY_CONF,
        }
        for s in spans
        if s["kind"] == "object"
    ]


def make_handler(engine: AstroEngine):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence per-request stderr noise
            pass

        def _send(self, code: int, payload: dict | None) -> None:
            body = b"" if payload is None else json.dumps(payload).encode()
            self.send_response(code)
            if body:
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def do_GET(self):
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            else:
                self._send(404, {"error": "unknown path"})

        def do_POST(self):
            url = urllib.parse.urlsplit(self.path)
            if url.path != "/processAstroText":
                self._send(404, {"error": "unknown path"})
                return
            if "chunked" in (self.headers.get("Transfer-Encoding") or "").lower():
                # body framing we don't read — reject instead of silently
                # answering 204 with the body left unconsumed on the socket
                self._send(411, {"error": "chunked transfer not supported; send Content-Length"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
            except ValueError:
                self._send(400, {"error": "invalid Content-Length"})
                return
            if n < 0:
                self._send(400, {"error": "invalid Content-Length"})
                return
            if n > MAX_BODY_BYTES:
                self._send(413, {"error": f"body exceeds {MAX_BODY_BYTES} bytes"})
                return
            raw = self.rfile.read(n).decode("utf-8", "replace")
            ctype = self.headers.get("Content-Type", "")
            if "application/x-www-form-urlencoded" in ctype:
                text = urllib.parse.parse_qs(raw).get("text", [""])[0]
            else:
                text = raw
            if not text.strip():
                self._send(204, None)  # blank input → no content
                return
            # the reference REST path flattens newlines/tabs before parsing
            # (AstroProcessString.java:41); length-preserving, so offsets
            # remain absolute into the submitted text
            text = text.replace("\n", " ").replace("\t", " ")
            t0 = time.time()
            spans = engine.process_text(text)
            fmt = urllib.parse.parse_qs(url.query).get("format", ["entities"])[0]
            entities = spans if fmt == "spans" else spans_to_entities(spans)
            self._send(
                200,
                {"entities": entities, "runtime": int((time.time() - t0) * 1000)},
            )

    return Handler


def serve(port: int = 8060, engine: AstroEngine | None = None) -> ThreadingHTTPServer:
    """Build (and return, NOT start) the server — caller decides threading.
    ``serve_forever`` on the returned object to block."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(engine or AstroEngine()))


if __name__ == "__main__":
    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8060
    srv = serve(port)
    print(f"astrospark service on http://127.0.0.1:{port} (POST /processAstroText)")
    srv.serve_forever()
