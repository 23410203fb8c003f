"""Config source: YAML file + environment overrides + defaults + validation.

Mirrors the reference's config loader semantics
(``/root/reference/config/config.go:74-242``): resolution priority is
explicit path > ``FTS_SPARK_CONFIG`` env var > defaults (``mustLoad``,
config.go:83-104); unknown enum values fail fast with a named error
(``validateConfig``, config.go:163-242); every scalar can be overridden from
the environment (cleanenv's ``env`` tags → ``FTS_SPARK__<SECTION>__<FIELD>``
here). Reference knobs that configured its in-process data structures
(bloom/cuckoo/ribbon sizing, snapshot buffer sizes) map to this engine's
storage-layer equivalents (parquet bloom ndv, shard/wave geometry,
pruning strategy) — the role table is SURVEY.md §2.5.

Pipeline flags (``buildPipeline``, cmd/fts/main.go:562-590) assemble a
custom pipeline with the same filter order: lowercase → min_length →
stopwords(en) → stopwords(ru) → stem(en) → stem(ru).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field

from .textproc import pipeline as tp

VALID_SCORERS = ("bm25", "reference")
VALID_MODES = ("wand", "relational")
VALID_PRESETS = ("english", "russian", "multilingual", "default", "simple", "by_lang")
# filter factory enum (reference: none|bloom|cuckoo|ribbon, config.go:206);
# the storage-layer paths (dict/storage) plus the compact driver-side
# cuckoo/ribbon term gates (operators/filters.py; SURVEY.md §2.5 F2-F4, F7)
VALID_PRUNING = ("dict", "storage", "cuckoo", "ribbon")


@dataclass
class PipelineFlags:
    """``PipelineConfig`` (config.go:66-73)."""

    lowercase: bool = True
    stopwords_en: bool = True
    stopwords_ru: bool = False
    stem_en: bool = True
    stem_ru: bool = False
    min_length: int = 3


@dataclass
class IndexConfig:
    """Build geometry (the role of FTS.Index/Snapshot/Bloom sizing)."""

    index_dir: str = "./data/index"
    shard_size: int = 1 << 20
    skip_block: int = 128
    id_buckets: int = 0  # 0 = auto-scale with cluster parallelism
    n_waves: int = 1
    bloom_ndv: int = 1 << 16
    load_on_start: bool = True  # snapshot.load_on_start (config.go:35)
    save_on_build: bool = True  # snapshot.save_on_build


@dataclass
class QueryConfig:
    scorer: str = "bm25"
    mode: str = "wand"
    k: int = 10
    pruning: str = "dict"


@dataclass
class EngineFileConfig:
    env: str = "local"
    dump_path: str = ""
    preset: str = "by_lang"  # '' -> assemble from pipeline flags
    pipeline: PipelineFlags = field(default_factory=PipelineFlags)
    index: IndexConfig = field(default_factory=IndexConfig)
    query: QueryConfig = field(default_factory=QueryConfig)


class ConfigError(ValueError):
    pass


def _coerce(value: str, target_type):
    if target_type is bool:
        if value.lower() in ("1", "true", "yes", "on"):
            return True
        if value.lower() in ("0", "false", "no", "off"):
            return False
        raise ConfigError(f"not a bool: {value!r}")
    return target_type(value)


def _apply_dict(cfg, data: dict, path: str = "") -> None:
    for key, val in data.items():
        if not hasattr(cfg, key):
            raise ConfigError(f"unknown config key {path}{key!r}")
        cur = getattr(cfg, key)
        if dataclasses.is_dataclass(cur):
            if not isinstance(val, dict):
                raise ConfigError(f"{path}{key} must be a mapping")
            _apply_dict(cur, val, f"{path}{key}.")
        else:
            setattr(cfg, key, val)


def _apply_env(cfg, environ, prefix: str = "FTS_SPARK_") -> None:
    """``FTS_SPARK__INDEX__SHARD_SIZE=65536``-style overrides (cleanenv's
    env-tag role). Section and field are joined by double underscores;
    top-level fields use one section-less segment."""
    for name, raw in environ.items():
        if not name.startswith(prefix + "_"):
            continue
        parts = [p.lower() for p in name[len(prefix) + 1 :].split("__") if p]
        node = cfg
        for p in parts[:-1]:
            if not hasattr(node, p) or not dataclasses.is_dataclass(getattr(node, p)):
                raise ConfigError(f"unknown config section in env var {name}")
            node = getattr(node, p)
        leaf = parts[-1]
        if not hasattr(node, leaf):
            raise ConfigError(f"unknown config field in env var {name}")
        cur = getattr(node, leaf)
        setattr(node, leaf, _coerce(raw, type(cur)))


def validate(cfg: EngineFileConfig) -> EngineFileConfig:
    """Fail-fast enum/range checks (``validateConfig``, config.go:163-242)."""
    if cfg.preset and cfg.preset not in VALID_PRESETS:
        raise ConfigError(f"unknown pipeline preset: {cfg.preset!r}")
    if cfg.query.scorer not in VALID_SCORERS:
        raise ConfigError(f"unknown scorer: {cfg.query.scorer!r}")
    if cfg.query.mode not in VALID_MODES:
        raise ConfigError(f"unknown query mode: {cfg.query.mode!r}")
    if cfg.query.pruning not in VALID_PRUNING:
        raise ConfigError(f"unknown pruning strategy: {cfg.query.pruning!r}")
    if cfg.index.shard_size <= 0:
        raise ConfigError("index.shard_size must be > 0")
    if cfg.index.skip_block <= 0:
        raise ConfigError("index.skip_block must be > 0")
    if cfg.index.id_buckets < 0:
        raise ConfigError("index.id_buckets must be >= 0 (0 = auto)")
    if cfg.index.n_waves <= 0:
        raise ConfigError("index.n_waves must be > 0")
    if cfg.index.bloom_ndv <= 0:
        raise ConfigError("index.bloom_ndv must be > 0")
    if cfg.pipeline.min_length < 0:
        raise ConfigError("pipeline.min_length must be >= 0")
    return cfg


def load_config(
    path: str | None = None, environ: dict | None = None
) -> tuple[EngineFileConfig, str]:
    """Load config. Returns (config, source) where source is the file path
    or ``"defaults"`` — the reference returns the same pair
    (config.go:74-76). Priority: explicit arg > ``FTS_SPARK_CONFIG`` env >
    defaults; env-var field overrides apply on top of the file either way.
    YAML when pyyaml is importable, JSON otherwise (a YAML file that is pure
    JSON loads under both)."""
    environ = os.environ if environ is None else environ
    cfg = EngineFileConfig()
    source = "defaults"
    if path is None:
        path = environ.get("FTS_SPARK_CONFIG", "")
    if path:
        if not os.path.exists(path):
            raise ConfigError(f"config file not found: {path}")
        with open(path) as f:
            text = f.read()
        try:
            import yaml  # gated: not guaranteed in every runtime

            data = yaml.safe_load(text) or {}
        except ImportError:
            data = json.loads(text or "{}")
        if not isinstance(data, dict):
            raise ConfigError("config root must be a mapping")
        _apply_dict(cfg, data)
        source = path
    _apply_env(cfg, environ)
    return validate(cfg), source


def _flags_spec(f: PipelineFlags) -> str:
    return tp.custom_spec(
        lowercase=f.lowercase,
        min_length=f.min_length,
        stopwords_en=f.stopwords_en,
        stopwords_ru=f.stopwords_ru,
        stem_en=f.stem_en,
        stem_ru=f.stem_ru,
    )


def pipeline_from_flags(flags: PipelineFlags) -> tp.Pipeline:
    """Assemble a pipeline in the reference's filter order
    (``buildPipeline``, cmd/fts/main.go:562-590) — the ``custom:`` spec
    chain, named by its spec so the token memo cannot confuse it with
    another flag set."""
    return tp.get_pipeline(_flags_spec(flags))


def resolve_pipeline(cfg: EngineFileConfig) -> str:
    """Preset name when set ('by_lang' is handled by the build routing);
    otherwise the canonical ``custom:`` spec string assembled from the flags
    — a string so it travels through UDF closures and engine options
    (``get_pipeline`` accepts both forms)."""
    return cfg.preset or _flags_spec(cfg.pipeline)
