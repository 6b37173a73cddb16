"""Config-file loading (config/loader.rs:26-105, setconfig.rs:1678-1727).

Format-detection vectors are ported from the reference's own test
(loader.rs:613-633); application vectors pin the RawConfig → config
mapping (loader.rs:459-513, full-key variant — see module docstring of
config_loader.py for the documented divergence).
"""

from __future__ import annotations

import ast
from dataclasses import fields
from pathlib import Path

import pytest

import graphrag_rs_spark
from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.config_loader import (
    _KEY_MAP,
    ConfigError,
    config_from_dict,
    detect_format,
    load_config,
    parse_json5,
    save_config,
)


class TestFormatDetection:
    # loader.rs:613-633 test_config_format_detection
    def test_extensions(self):
        assert detect_format("config.toml") == "toml"
        assert detect_format("config.yaml") == "yaml"
        assert detect_format("config.yml") == "yaml"
        assert detect_format("config.json") == "json5"
        assert detect_format("config.json5") == "json5"
        # default is TOML (loader.rs:34)
        assert detect_format("config.conf") == "toml"
        assert detect_format("config") == "toml"


class TestJson5Subset:
    def test_comments_and_trailing_commas(self):
        raw = """
        {
          // line comment
          "entity_extraction": {
            "min_confidence": 0.7, /* block
               comment */
            "max_gleaning_rounds": 3,  // trailing comment then comma below
          },
        }
        """
        parsed = parse_json5(raw)
        assert parsed["entity_extraction"]["min_confidence"] == 0.7

    def test_comment_between_comma_and_bracket(self):
        parsed = parse_json5('{"a": [1, 2, // tail\n ], }')
        assert parsed == {"a": [1, 2]}

    def test_slashes_inside_strings_survive(self):
        parsed = parse_json5('{"url": "http://x/*y*/z", "b": 1}')
        assert parsed["url"] == "http://x/*y*/z"

    def test_parse_error_message_shape(self):
        with pytest.raises(ConfigError, match="JSON5 parse error"):
            parse_json5("{nope}")


class TestApplication:
    def test_defaults_when_empty(self):
        assert config_from_dict({}) == PipelineConfig()

    def test_reference_section_keys(self):
        cfg = config_from_dict(
            {
                "text_processing": {"chunk_size": 500, "chunk_overlap": 50},
                "entity_extraction": {
                    "min_confidence": 0.65,
                    "max_gleaning_rounds": 3,
                    "entity_types": ["person", "organization"],
                },
                "graph_construction": {
                    "extract_relationships": False,
                    "relationship_confidence_threshold": 0.8,
                },
                "vector_processing": {"embedding_dimensions": 128},
                "ollama": {"enabled": True, "model": "ignored-here"},
            }
        )
        assert cfg.chunk_size == 500
        assert cfg.chunk_overlap == 50
        assert cfg.min_confidence == 0.65
        assert cfg.max_gleaning_rounds == 3
        assert cfg.entity_types == ("PERSON", "ORGANIZATION")
        assert cfg.extract_relationships is False
        assert cfg.relationship_confidence == 0.8
        assert cfg.embedding_dim == 128

    def test_use_gleaning_false_pins_rounds(self):
        # lib.rs:383 branch: gleaning disabled -> single-pass extraction
        cfg = config_from_dict(
            {
                "entity_extraction": {
                    "use_gleaning": False,
                    "max_gleaning_rounds": 5,
                }
            }
        )
        assert cfg.max_gleaning_rounds == 1

    def test_max_threads_zero_is_auto(self):
        # loader.rs:487-500: 0 = num_cpus auto; we keep the session default
        cfg = config_from_dict({"parallel_processing": {"max_threads": 0}})
        assert cfg.shuffle_partitions == PipelineConfig().shuffle_partitions
        cfg2 = config_from_dict({"parallel_processing": {"max_threads": 8}})
        assert cfg2.shuffle_partitions == 8

    def test_unknown_keys_ignored(self):
        cfg = config_from_dict(
            {
                "monitoring": {"enabled": True},
                "text_processing": {"bogus": 1},
                # keys of since-removed fields: old files still load
                "spark": {
                    "salt_buckets": 32,
                    "arrow_max_records_per_batch": 8192,
                    "broadcast_pair_meta": False,
                },
            }
        )
        assert cfg == PipelineConfig()

    def test_non_dict_root_rejected(self):
        with pytest.raises(ConfigError):
            config_from_dict([1, 2])  # type: ignore[arg-type]


class TestFiles:
    def test_toml_round_trip(self, tmp_path):
        cfg = PipelineConfig(chunk_size=640, min_confidence=0.72,
                             max_gleaning_rounds=2, semantic_edges=True)
        path = str(tmp_path / "graphrag.toml")
        save_config(cfg, path)
        text = open(path).read()
        assert text.startswith("# ===")  # setconfig.rs:1712-1727 header
        loaded = load_config(path)
        assert loaded.chunk_size == 640
        assert loaded.min_confidence == 0.72
        assert loaded.max_gleaning_rounds == 2
        assert loaded.semantic_edges is True

    def test_yaml_file(self, tmp_path):
        p = tmp_path / "c.yaml"
        p.write_text(
            "text_processing:\n  chunk_size: 256\n"
            "entity_extraction:\n  min_confidence: 0.9\n"
        )
        cfg = load_config(str(p))
        assert cfg.chunk_size == 256
        assert cfg.min_confidence == 0.9

    def test_json5_file(self, tmp_path):
        p = tmp_path / "c.json5"
        p.write_text('{ "text_processing": { "chunk_size": 300, }, // x\n }')
        assert load_config(str(p)).chunk_size == 300

    def test_missing_file(self):
        with pytest.raises(ConfigError, match="not found"):
            load_config("/nonexistent/graphrag.toml")

    def test_bad_toml(self, tmp_path):
        p = tmp_path / "c.toml"
        p.write_text("[text_processing\nchunk_size = 1")
        with pytest.raises(ConfigError, match="TOML parse error"):
            load_config(str(p))


class TestNoDeadKnobs:
    """Every config field is read by the package, and every config-file
    key lands on a field."""

    def test_every_field_is_read(self):
        pkg = Path(graphrag_rs_spark.__file__).parent
        read = set()
        for path in pkg.rglob("*.py"):
            if path.name == "config_loader.py":
                continue
            tree = ast.parse(path.read_text(), filename=str(path))
            read |= {
                node.attr for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
            }
        unread = [f.name for f in fields(PipelineConfig) if f.name not in read]
        assert unread == []

    def test_every_mapped_key_is_a_field(self):
        names = {f.name for f in fields(PipelineConfig)}
        assert set(_KEY_MAP.values()) <= names
