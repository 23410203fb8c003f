"""Config source tests (S7): file + env + defaults + validation, mirroring
the reference loader's behavior (config/config.go:74-242). Pure Python — no
Spark session needed."""

from __future__ import annotations

import pytest

from fts_engine_spark.config import (
    ConfigError,
    EngineFileConfig,
    PipelineFlags,
    load_config,
    pipeline_from_flags,
    resolve_pipeline,
)

YAML_DOC = """
env: prod
preset: ""
pipeline:
  lowercase: true
  stopwords_en: true
  stem_en: false
  min_length: 4
index:
  shard_size: 65536
  n_waves: 4
query:
  scorer: reference
  mode: relational
  pruning: storage
"""


def test_defaults_when_no_file():
    cfg, source = load_config(path=None, environ={})
    assert source == "defaults"
    assert cfg.preset == "by_lang"
    assert cfg.index.shard_size == 1 << 20
    assert cfg.query.scorer == "bm25"


def test_yaml_file_loads(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(YAML_DOC)
    cfg, source = load_config(str(p), environ={})
    assert source == str(p)
    assert cfg.env == "prod"
    assert cfg.index.shard_size == 65536
    assert cfg.index.n_waves == 4
    assert cfg.query.scorer == "reference"
    assert cfg.query.pruning == "storage"
    assert cfg.pipeline.min_length == 4


def test_env_var_selects_file_and_overrides_fields(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(YAML_DOC)
    cfg, source = load_config(
        path=None,
        environ={
            "FTS_SPARK_CONFIG": str(p),
            "FTS_SPARK__INDEX__SHARD_SIZE": "4096",
            "FTS_SPARK__QUERY__MODE": "wand",
            "FTS_SPARK__PIPELINE__STEM_EN": "true",
        },
    )
    assert source == str(p)
    assert cfg.index.shard_size == 4096  # env beats file
    assert cfg.query.mode == "wand"
    assert cfg.pipeline.stem_en is True


def test_unknown_key_fails(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("nonsense_key: 1\n")
    with pytest.raises(ConfigError, match="nonsense_key"):
        load_config(str(p), environ={})


@pytest.mark.parametrize(
    "doc,msg",
    [
        ("query:\n  scorer: tfidf\n", "scorer"),
        ("query:\n  mode: scan\n", "mode"),
        ("query:\n  pruning: xor8\n", "pruning"),
        ("query:\n  pruning: none\n", "pruning"),
        ("preset: klingon\n", "preset"),
        ("index:\n  shard_size: 0\n", "shard_size"),
        ("index:\n  n_waves: -1\n", "n_waves"),
    ],
)
def test_validation_fails_fast(tmp_path, doc, msg):
    p = tmp_path / "bad.yaml"
    p.write_text(doc)
    with pytest.raises(ConfigError, match=msg):
        load_config(str(p), environ={})


def test_missing_file_is_an_error():
    with pytest.raises(ConfigError, match="not found"):
        load_config("/nonexistent/cfg.yaml", environ={})


def test_pipeline_from_flags_matches_preset():
    """Flags (lowercase+minlen3+stop_en+stem_en) == the 'english' preset —
    same assembly the reference does in buildPipeline (main.go:562-590)."""
    from fts_engine_spark.textproc.pipeline import get_pipeline

    flags = PipelineFlags(
        lowercase=True, stopwords_en=True, stopwords_ru=False,
        stem_en=True, stem_ru=False, min_length=3,
    )
    custom = pipeline_from_flags(flags)
    preset = get_pipeline("english")
    for text in (
        "The Running foxes jumped over lazily 123 ab",
        "Съешь ещё этих мягких французских булок",
        "",
    ):
        assert custom.process(text) == preset.process(text)


def test_resolve_pipeline_prefers_preset():
    from fts_engine_spark.textproc.pipeline import get_pipeline

    cfg = EngineFileConfig()
    assert resolve_pipeline(cfg) == "by_lang"
    cfg.preset = ""
    spec = resolve_pipeline(cfg)
    # a custom: spec STRING — serializable through UDF closures, and
    # get_pipeline assembles the same chain as pipeline_from_flags
    assert spec.startswith("custom:")
    custom = get_pipeline(spec)
    assert custom.name == spec  # the spec names (and memo-keys) the chain
    flagged = pipeline_from_flags(cfg.pipeline)
    for text in ("The Running foxes jumped 123 ab", ""):
        assert custom.process(text) == flagged.process(text)


def test_pruning_factory_validates():
    from fts_engine_spark.operators.pruning import make_pruner

    with pytest.raises(ValueError, match="xor8"):
        make_pruner("xor8")
    with pytest.raises(ValueError, match="none"):
        make_pruner("none")
    assert make_pruner("dict").gates_with_dictionary
    assert not make_pruner("storage").gates_with_dictionary
    # cuckoo/ribbon (r3: SURVEY §2.5 F2-F4 as real strategies) need a vocab
    assert make_pruner("cuckoo").needs_vocab
    assert make_pruner("ribbon").needs_vocab
    assert not make_pruner("dict").needs_vocab
