"""OllamaHttpClient against an in-process HTTP double: the REAL wire path
(socket, JSON envelope, retry, error mapping) end-to-end, including
through the Spark extraction stage — executors connect to 127.0.0.1 in
local mode, so the full distributed dataflow runs against the server."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from graphrag_rs_spark.operators.llm_client import OllamaHttpClient


class _FakeOllama(BaseHTTPRequestHandler):
    """Answers /api/generate like Ollama; behavior is driven by the
    prompt content so tests stay declarative. Tracks request bodies."""

    requests: list[dict] = []
    fail_next: list[int] = []  # mutable box: leading 500s to emit

    def do_POST(self):  # noqa: N802 — http.server API
        body = json.loads(
            self.rfile.read(int(self.headers["Content-Length"]))
        )
        type(self).requests.append(body)
        if self.path != "/api/generate":
            self.send_error(404)
            return
        if self.fail_next and self.fail_next[0] > 0:
            self.fail_next[0] -= 1
            self.send_error(500, "injected fault")
            return
        prompt = body.get("prompt", "")
        if "BADSHAPE" in prompt:
            out = {"model": body["model"]}  # missing 'response'
        elif "Maria Santos" in prompt and prompt.startswith("-Goal-\nGiven"):
            out = {"response": json.dumps({
                "entities": [{"name": "Maria Santos", "type": "PERSON",
                              "description": "attendee"}],
                "relationships": [],
            })}
        elif prompt.startswith("Based on the text below"):
            out = {"response": "YES"}
        else:
            out = {"response": json.dumps(
                {"entities": [], "relationships": []}
            )}
        data = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):  # silence per-request stderr noise
        pass


@pytest.fixture(scope="module")
def server():
    _FakeOllama.requests = []
    _FakeOllama.fail_next = [0]
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeOllama)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _client(server, **kw):
    return OllamaHttpClient(base_url=server, model="test-model", **kw)


def test_request_envelope_matches_reference(server):
    """ollama/mod.rs:74-93: model + prompt + stream:false + options
    {num_predict, temperature}."""
    import asyncio

    _FakeOllama.requests.clear()
    out = asyncio.run(
        _client(server, temperature=0.1, max_tokens=1500).acomplete("hi")
    )
    assert out == json.dumps({"entities": [], "relationships": []})
    body = _FakeOllama.requests[-1]
    assert body["model"] == "test-model"
    assert body["prompt"] == "hi"
    assert body["stream"] is False
    assert body["options"] == {"num_predict": 1500, "temperature": 0.1}


def test_transport_fault_retries_then_succeeds(server):
    import asyncio

    _FakeOllama.fail_next[0] = 2
    out = asyncio.run(_client(server, max_retries=3).acomplete("hello"))
    assert "entities" in out


def test_transport_fault_exhausts_retries(server):
    import asyncio

    _FakeOllama.fail_next[0] = 5
    with pytest.raises(ConnectionError, match="after 2 retries"):
        asyncio.run(_client(server, max_retries=2).acomplete("hello"))
    _FakeOllama.fail_next[0] = 0


def test_bad_shape_is_protocol_error_not_retried(server):
    import asyncio

    _FakeOllama.requests.clear()
    with pytest.raises(ValueError, match="invalid Ollama response"):
        asyncio.run(_client(server).acomplete("BADSHAPE please"))
    assert len(_FakeOllama.requests) == 1  # no retry on protocol errors


def test_connection_refused_maps_to_connection_error():
    import asyncio

    c = OllamaHttpClient(
        base_url="http://127.0.0.1:9", max_retries=2, timeout_seconds=2
    )
    with pytest.raises(ConnectionError):
        asyncio.run(c.acomplete("x"))


def _live_config(server, tmp_path):
    """[mode] approach=semantic + [ollama] enabled, pointing at ``server``."""
    from graphrag_rs_spark.config_loader import load_config

    host, port = server.rsplit(":", 1)
    cfg_file = tmp_path / "live.toml"
    cfg_file.write_text(
        "[mode]\n"
        'approach = "semantic"\n'
        "[ollama]\n"
        "enabled = true\n"
        f'host = "{host}"\n'
        f"port = {port}\n"
        'chat_model = "test-model"\n'
        "max_retries = 2\n"
    )
    return load_config(str(cfg_file))


def _live_transcripts(spark):
    return spark.createDataFrame(
        [
            ("v1", 0, "user",
             "Maria Santos attended the summit and asked about the agenda.",
             None, None),
            ("v1", 1, "assistant",
             "The keynote begins at nine and the workshops run all day.",
             None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_config_file_alone_enables_live_path(spark, server, tmp_path):
    """[mode] approach=semantic + [ollama] enabled → build_graph builds
    the HTTP client from config with no client_factory argument — the
    reference's `use_gleaning && ollama.enabled` gate, end-to-end from a
    TOML file through the wire to the nodes table."""
    from graphrag_rs_spark.plans.pipeline import build_graph

    cfg = _live_config(server, tmp_path)
    assert cfg.ollama_base_url == server
    assert cfg.ollama_enabled and cfg.ollama_model == "test-model"

    tables = build_graph(spark, _live_transcripts(spark), cfg)
    names = {r["name"] for r in tables["nodes"].collect()}
    assert names == {"Maria Santos"}


def test_streaming_sink_uses_configured_extractor(spark, server, tmp_path):
    """The config-file route reaches the streaming sink too: ingest sends
    its extraction prompts to the endpoint, and the workspace holds the
    batch build's nodes (ingest equals rebuild)."""
    from graphrag_rs_spark.plans.pipeline import build_graph
    from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

    cfg = _live_config(server, tmp_path)
    transcripts = _live_transcripts(spark)
    _FakeOllama.requests.clear()
    IncrementalGraphSink(str(tmp_path / "ws"), cfg).process_batch(transcripts, 0)
    assert any(
        r["prompt"].startswith("-Goal-\nGiven") for r in _FakeOllama.requests
    )

    ingested = {
        r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "ws" / "entities")).collect()
    }
    built = {
        r["cluster_id"]
        for r in build_graph(spark, transcripts, cfg)["nodes"].collect()
    }
    assert ingested == built


def test_spark_extraction_stage_over_real_http(spark, server):
    """The full semantic-mode dataflow against the wire: chunks →
    mapInPandas → per-chunk async HTTP calls → EXTRACTION_SCHEMA rows.
    Executors build their own client via the factory (local mode shares
    the loopback, which is exactly how a cluster-local gateway looks)."""
    from graphrag_rs_spark.operators.llm_extraction import extract_chunks_llm

    url = server

    def factory():
        return OllamaHttpClient(base_url=url, model="test-model",
                                max_retries=2, timeout_seconds=10)

    chunks = spark.createDataFrame(
        [
            ("c1", "v1", "d1", 0, "Maria Santos attended the summit."),
            ("c2", "v1", "d1", 1, "Nothing notable here."),
        ],
        "chunk_id string, conv_id string, doc_id string, chunk_idx int, "
        "text string",
    )
    rows = {
        r["chunk_id"]: r
        for r in extract_chunks_llm(
            chunks, factory, max_rounds=2, concurrency=4
        ).collect()
    }
    ents = {e["name"] for e in rows["c1"]["entities"]}
    assert ents == {"Maria Santos"}
    assert rows["c1"]["entities"][0]["confidence"] == pytest.approx(0.9)
    assert rows["c2"]["entities"] == []
