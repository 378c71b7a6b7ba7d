"""S8 REST serving — full contract tests against live local HTTP (a
stdlib server on 127.0.0.1, no network).

The REST tests pin the reference server's behavior (server.py:74-122 input
polymorphism, :185-204 enrichment, :207-284 routes/status codes): /ready,
/recognize on str | list[str] | list[dict with text], 400 on malformed
input, and span-for-span agreement with detect_mentions_in_text — the same
kernel the Spark pipeline distributes.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from runne_contrastive_ner_spark.functions.scorer import GazetteerScorer
from runne_contrastive_ner_spark.operators.mentions import (
    detect_mentions_in_text,
)
from runne_contrastive_ner_spark.sources.rest import (
    build_server,
    check_input_data,
    enrich_data_with_recognition_results,
    extract_texts,
)

GAZ = {"spark": "PRODUCT", "alice": "PERSON", "fast table": "PRODUCT"}
TYPES = ["PERSON", "PRODUCT"]


# --- pure contract functions -------------------------------------------------

def test_check_input_data_polymorphism():
    assert check_input_data(["a", "b"]) == "str"
    assert check_input_data([{"text": "a"}, {"text": "b", "k": 1}]) == "dict"
    with pytest.raises(ValueError, match="unexpected"):
        check_input_data(["a", {"text": "b"}])
    with pytest.raises(ValueError, match="`text` is not found"):
        check_input_data([{"body": "a"}])
    with pytest.raises(ValueError, match="wrong"):
        check_input_data([42])
    with pytest.raises(ValueError, match="empty"):
        check_input_data([])


def test_extract_and_enrich_roundtrip():
    data = [{"text": "x", "meta": 7}, {"text": "y"}]
    assert extract_texts(data) == ["x", "y"]
    res = [[(0, 1, "PERSON")], []]
    enriched = enrich_data_with_recognition_results(data, res)
    assert enriched[0] == {"text": "x", "meta": 7, "ners": [(0, 1, "PERSON")]}
    assert enriched[1] == {"text": "y", "ners": []}
    data[0]["meta"] = 8  # deep copy: enrichment must not alias the input
    assert enriched[0]["meta"] == 7
    as_str = enrich_data_with_recognition_results(["x"], [[(0, 1, "P")]])
    assert as_str == [{"text": "x", "ners": [(0, 1, "P")]}]
    with pytest.raises(ValueError, match="do not correspond"):
        enrich_data_with_recognition_results(["x"], [])


# --- live server -------------------------------------------------------------

@pytest.fixture(scope="module")
def server_url():
    scorer = GazetteerScorer(GAZ, TYPES)
    srv = build_server(scorer)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def _post(url: str, payload) -> tuple[int, object]:
    req = urllib.request.Request(
        url + "/recognize",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def test_ready(server_url):
    with urllib.request.urlopen(server_url + "/ready") as resp:
        assert resp.status == 200
        assert resp.read() == b"OK"


def test_recognize_single_string(server_url):
    text = "alice met spark near the fast table."
    code, body = _post(server_url, text)
    assert code == 200
    assert body["text"] == text
    want = [
        [start, end, etype]
        for etype, start, end in detect_mentions_in_text(
            text, GazetteerScorer(GAZ, TYPES)
        )
    ]
    assert body["ners"] == want
    assert want, "fixture text must produce at least one span"
    for start, end, etype in body["ners"]:
        assert text[start:end].lower() in GAZ
        assert etype == GAZ[text[start:end].lower()]


def test_recognize_list_of_strings(server_url):
    code, body = _post(server_url, ["alice was here.", "no entities."])
    assert code == 200
    assert [b["text"] for b in body] == ["alice was here.", "no entities."]
    assert body[0]["ners"] == [[0, 5, "PERSON"]]
    assert body[1]["ners"] == []


def test_recognize_list_of_dicts_enriches(server_url):
    payload = [{"text": "spark!", "doc_id": 1}, {"text": "-", "doc_id": 2}]
    code, body = _post(server_url, payload)
    assert code == 200
    assert body[0] == {"text": "spark!", "doc_id": 1, "ners": [[0, 5, "PRODUCT"]]}
    assert body[1]["doc_id"] == 2 and body[1]["ners"] == []


@pytest.mark.parametrize(
    "payload,needle",
    [
        (42, "unknown data type"),
        ([], "empty"),
        (["a", {"text": "b"}], "unexpected"),
        ([{"no_text": 1}], "`text` is not found"),
    ],
)
def test_recognize_rejects_bad_input(server_url, payload, needle):
    code, body = _post(server_url, payload)
    assert code == 400
    assert needle in body["message"]
