"""Classifier internals: retry/hint flow, HTTP transport envelopes,
distributed mapInPandas classification."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from pg_auto_dw_spark.classify.client import (
    Classifier,
    DeterministicStub,
    OllamaTransport,
    OpenAITransport,
    classify_prompts_distributed,
)
from pg_auto_dw_spark.classify.pending import source_table_prompts


def _details(cols):
    return json.dumps(
        {
            "Schema Name": "public",
            "Table Name": "customer",
            "Column Details": [
                f"Column No: {i} Named: {n} of type: {t} "
                f"{'And is a primary key.' if pk else ''}Column Comments: NA"
                for i, (n, t, pk) in enumerate(cols, start=1)
            ],
        }
    )


def test_retry_with_hint_injection_then_success():
    """Malformed responses trigger up to 3 attempts with hint injection
    (bgw_transformer_client.rs:79-114); the hint must appear in the
    retried prompt."""
    calls = []

    def flaky(prompt):
        calls.append(prompt)
        if len(calls) < 3:
            return "not json {"
        assert "This is your 2 attempt" in prompt  # hint from attempt 2
        return {
            "Business Key Component Identification": {
                "Is Business Key Component": True,
                "Confidence Value": 0.9,
                "Reason": "r",
            }
        }

    c = Classifier(flaky, "m")
    details = _details([("customer_id", "uuid", True)])
    rows = c.classify_table(details, {1: 11})
    # first question took 3 attempts; later questions reuse the same
    # flaky transport (now always succeeding in shape for Q1 only), so
    # just assert the BK question recovered
    assert calls[2].count("JSON response only") == 1


def test_three_strikes_defaults_to_descriptor():
    """If all attempts fail, the column defaults to Descriptor conf 1.00
    (bgw_transformer_client.rs:259-266)."""
    c = Classifier(lambda p: "garbage", "m")
    rows = c.classify_table(_details([("customer_id", "uuid", True)]), {1: 11})
    assert len(rows) == 1
    assert rows[0].category == "Descriptor"
    assert rows[0].confidence_score == "1.00"
    assert rows[0].business_key_name == "NA"


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        inner = {
            "Descriptor - Sensitive": {
                "Is PII": False,
                "Confidence Value": 0.8,
                "Reason": "served",
            }
        }
        if self.path == "/api/generate":
            assert body["format"] == "json" and body["options"]["temperature"] == 0.75
            payload = {"response": json.dumps(inner)}
        else:  # openai-shaped
            assert body["response_format"] == {"type": "json_object"}
            assert self.headers["Authorization"] == "Bearer k"
            payload = {"choices": [{"message": {"content": json.dumps(inner)}}]}
        data = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):
        pass


def test_http_transports_parse_envelopes():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        ollama = OllamaTransport(url=f"http://127.0.0.1:{port}/api/generate", model="m")
        out = ollama("prompt")
        assert out["Descriptor - Sensitive"]["Reason"] == "served"
        openai = OpenAITransport(
            api_key="k", url=f"http://127.0.0.1:{port}/v1/chat/completions", model="m"
        )
        out = openai("prompt")
        assert out["Descriptor - Sensitive"]["Confidence Value"] == 0.8
    finally:
        srv.shutdown()


class _FlakyHandler(BaseHTTPRequestHandler):
    """Ollama-shaped endpoint that serves malformed JSON for the first
    two requests, then valid envelopes -- the over-the-wire version of
    the reference's retry scenario (bgw_transformer_client.rs:79-114)."""

    prompts: list = []  # class-level: one server instance per test

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        prompt = body["prompt"]
        type(self).prompts.append(prompt)
        if len(type(self).prompts) <= 2:
            payload = {"response": "not json {"}  # malformed inner body
        else:
            if "Business Key Component Identification" in prompt:
                inner = {
                    "Business Key Component Identification": {
                        "Is Business Key Component": True,
                        "Confidence Value": 0.9,
                        "Reason": "socket",
                    }
                }
            elif "Business Key Name" in prompt:
                inner = {
                    "Business Key Name": {
                        "Name": "customer",
                        "Confidence Value": 0.95,
                        "Reason": "socket",
                    }
                }
            else:
                inner = {
                    "Descriptor - Sensitive": {
                        "Is PII": False,
                        "Confidence Value": 0.8,
                        "Reason": "socket",
                    }
                }
            payload = {"response": json.dumps(inner)}
        data = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):
        pass


def test_retry_and_hint_injection_over_real_socket():
    """The full 3-attempt + hint-injection loop through OllamaTransport
    against a real HTTP server returning malformed-then-valid responses
    (r3 VERDICT directive 6): attempts 2 and 3 must carry the injected
    hint on the wire, and the recovered answer must classify normally."""
    _FlakyHandler.prompts = []
    srv = HTTPServer(("127.0.0.1", 0), _FlakyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        transport = OllamaTransport(url=f"http://127.0.0.1:{port}/api/generate", model="m")
        c = Classifier(transport, "m")
        rows = c.classify_table(_details([("customer_id", "uuid", True)]), {1: 11})
    finally:
        srv.shutdown()

    p = _FlakyHandler.prompts
    # BK question: 2 malformed attempts + 1 success; then BK name + PII
    assert len(p) == 5
    assert "JSON response only" not in p[0]
    assert "This is your 1 attempt" in p[1]
    assert "This is your 2 attempt" in p[2]
    assert "JSON response only" not in p[3] and "JSON response only" not in p[4]
    # the recovered answers combine per the reference's min() rule
    assert len(rows) == 1
    assert rows[0].category == "Business Key Part"
    assert rows[0].business_key_name == "customer"
    assert rows[0].confidence_score == "0.90"  # min(0.9 component, 0.95 name)


def test_distributed_classification_matches_driver_side(spark, sf_dir, tmp_path):
    """mapInPandas classification must produce the same response set as
    the driver-side loop with the same stub."""
    import datetime

    from pg_auto_dw_spark.api import AutoDW
    from pg_auto_dw_spark.catalog.registry import testdata_registry
    from pg_auto_dw_spark.sources import load_table

    adw = AutoDW(
        spark,
        str(tmp_path / "wh"),
        registry=testdata_registry(),
        clock=lambda: datetime.datetime(2024, 6, 1),
    )
    adw.register_source("main", "customer", load_table(spark, sf_dir, "customer"))
    adw.register_source("main", "supplier", load_table(spark, sf_dir, "supplier"))
    adw.source_include("main")

    so = adw.wh.read_arrow("auto_dw.source_objects")
    tr = adw.wh.read_arrow("auto_dw.transformer_responses")
    prompts = source_table_prompts(so, tr)
    dist = classify_prompts_distributed(prompts, DeterministicStub, "m").collect()

    adw.classify_pending()
    driver_side = adw.wh.read("auto_dw.transformer_responses").collect()

    key = lambda r: (r["fk_source_objects"], r["category"], r["business_key_name"])  # noqa: E731
    assert sorted(key(r) for r in dist) == sorted(key(r) for r in driver_side)


def test_prompt_snapshot_structure_and_substitution():
    """Rendered-prompt snapshot vs the reference's template contract
    (prompt_template.rs:11-427): every template carries its task title,
    request-detail rules, confidence convention, few-shot examples with
    the exact response-envelope keys, and the closing
    {hints}/{new_json}/{column_no} substitution in reference order."""
    from pg_auto_dw_spark.classify.prompts import PromptTemplate, render

    details = _details([("customer_id", "uuid", True), ("city", "text", False)])
    hint = "Hint: Please ensure you provide a JSON response only.  This is your 2 attempt."

    cases = {
        PromptTemplate.BK_COMPONENT_IDENTIFICATION: (
            "Business Key Component Identification",
            ["business key component", "primary key", "composite", "email or username"],
            6,
        ),
        PromptTemplate.BK_NAME: (
            "Business Key Name",
            ["data vault perspective", "table or schema name"],
            2,
        ),
        PromptTemplate.DESCRIPTOR_SENSITIVE: (
            "Descriptor - Sensitive",
            ["Email Address: PII", "Standard 5-Digit Zip Code: Not PII",
             "No Overgeneralization", "Geolocation Data"],
            4,
        ),
    }
    for tpl, (envelope_key, phrases, n_examples) in cases.items():
        out = render(tpl, details, 2, hint)
        # substitution: slots fully replaced, in reference order
        assert "{new_json}" not in out and "{column_no}" not in out and "{hints}" not in out
        assert out.index(hint) < out.index(details) < out.rindex("Column No: 2")
        assert out.rstrip().endswith("Column No: 2")
        # few-shot examples, each showing the exact envelope key
        for i in range(1, n_examples + 1):
            assert f"Example Input {i})" in out and f"Example Output {i})" in out
        assert out.count(f'"{envelope_key}"') == n_examples
        assert '"Confidence Value"' in out and '"Reason"' in out
        assert "rounded to two decimal places" in out
        for p in phrases:
            assert p in out, (tpl, p)
    # question-specific envelope fields
    bk = render(PromptTemplate.BK_COMPONENT_IDENTIFICATION, details, 1, "")
    assert '"Is Business Key Component"' in bk
    name = render(PromptTemplate.BK_NAME, details, 1, "")
    assert '"Name"' in name
    pii = render(PromptTemplate.DESCRIPTOR_SENSITIVE, details, 1, "")
    assert '"Is PII"' in pii
    # empty hints leave no artifact
    assert "Hint" not in pii
