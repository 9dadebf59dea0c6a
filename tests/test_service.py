"""HTTP service surface (AstroRestService.java:70-84 equivalent).
No Spark session is involved — the endpoint runs the kernel driver-side.
"""

import json
import threading
import urllib.parse
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(artifacts):
    from astrospark.api import AstroEngine
    from astrospark.service import serve

    vocab, trie, model = artifacts
    srv = serve(port=0, engine=AstroEngine(artifacts=(vocab, trie, model)))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def _post(url, data, ctype="application/x-www-form-urlencoded"):
    req = urllib.request.Request(
        url + "/processAstroText",
        data=data.encode(),
        headers={"Content-Type": ctype},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_process_text_form_reference_fields(server):
    """Default response carries the reference's AstroEntity.toJson field
    names (AstroEntity.java:198-236) so a grobid-astro client is drop-in."""
    body = urllib.parse.urlencode(
        {"text": "We detect GRB 020819B at 3 GHz near NGC 1275."}
    )
    status, raw = _post(server, body)
    assert status == 200
    out = json.loads(raw)
    assert "runtime" in out
    got = [
        (e["rawForm"], e["type"], e["offsetStart"], e["offsetEnd"], e["conf"])
        for e in out["entities"]
    ]
    assert ("GRB 020819B", "OBJECT", 10, 21, "0.8") in got
    assert ("NGC 1275", "OBJECT", 36, 44, "0.8") in got


def test_process_text_raw_body(server):
    status, raw = _post(server, "The field contains IC 3309 only.", ctype="text/plain")
    assert status == 200
    assert any(e["rawForm"] == "IC 3309" for e in json.loads(raw)["entities"])


def test_spans_format_flag(server):
    """?format=spans returns the engine's native contract records."""
    req = urllib.request.Request(
        server + "/processAstroText?format=spans",
        data=b"The field contains IC 3309 only.",
        headers={"Content-Type": "text/plain"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        out = json.loads(resp.read())
    assert any(
        (e["kind"], e["text"], e["offset"]) == ("object", "IC 3309", 19)
        for e in out["entities"]
    )


def test_newline_flattened_like_reference(server):
    """REST path flattens \n/\t before parsing (AstroProcessString.java:41)
    — a name split across a newline is still one entity, offsets absolute."""
    status, raw = _post(server, "We see NGC\n1275 here.", ctype="text/plain")
    assert status == 200
    got = [(e["rawForm"], e["offsetStart"]) for e in json.loads(raw)["entities"]]
    assert ("NGC 1275", 7) in got


def test_bad_content_length_is_400(server):
    import http.client

    host, port = server.replace("http://", "").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=10)
    conn.putrequest("POST", "/processAstroText", skip_accept_encoding=True)
    conn.putheader("Content-Length", "not-a-number")
    conn.endheaders()
    assert conn.getresponse().status == 400
    conn.close()


def test_oversized_body_is_413(server):
    import http.client

    host, port = server.replace("http://", "").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=10)
    conn.putrequest("POST", "/processAstroText", skip_accept_encoding=True)
    conn.putheader("Content-Length", str(100 * 1024 * 1024))
    conn.endheaders()  # send no body: server must refuse on the header alone
    assert conn.getresponse().status == 413
    conn.close()


def test_blank_input_is_no_content(server):
    status, _ = _post(server, urllib.parse.urlencode({"text": "   "}))
    assert status == 204  # AstroParser.java:96-98 null-result path


def test_health(server):
    with urllib.request.urlopen(server + "/health", timeout=10) as resp:
        assert json.loads(resp.read())["status"] == "ok"


def test_concurrent_requests_equal_serial(server, request_texts, run_together):
    """Concurrent requests share kernel calls; each still gets exactly the
    answer it gets alone."""

    def entities(text):
        status, raw = _post(server, urllib.parse.urlencode({"text": text}))
        assert status == 200
        return json.loads(raw)["entities"]

    serial = [entities(t) for t in request_texts]
    assert any(serial)
    assert run_together(entities, request_texts) == serial
