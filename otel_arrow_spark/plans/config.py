"""Config-driven pipeline front-end: a YAML/JSON spec file declares a
pipeline (source, processors, sink) and runs it through the same
entry points the Python API uses.

Reference analog: the df_engine deployment path — a YAML/JSON
``OtelDataflowSpec`` is parsed and handed to the controller
(rust/otap-dataflow/src/main.rs:247-295); an ops user declares the DAG in
config, never in code. Here the spec maps onto the two composed plans this
repo ships (the flagship telemetry pipeline and the corpus-cleaning
funnel); Catalyst still owns the physical DAG, so the spec stays at the
level the reference's spec does — which nodes, which options — not
execution hints.

Spec shape (YAML or JSON; JSON is a YAML subset so one loader serves both)::

    kind: telemetry_pipeline        # or: corpus_clean
    source:
      path: /data/transcripts       # parquet directory / table path
    aggregate:
      keys: [conv_id, tool, severity_text]
    sink:
      output_dir: /data/out

    kind: corpus_clean
    dedup:                          # optional cross-batch history gate
      history_index_path: /idx     #   parquet of md5 fps of prior keeps
    source: {path: /data/documents}
    quality: {alpha_min: 0.8, stopword_max: 0.12}
    decontaminate: {bench_docs: 3, ngram: 8}
    semantic_dedup:                 # optional SemDeDup stage
      embeddings_path: /data/embeddings
      threshold: 0.42
      n_clusters: 8
    pack: {seq_len: 512}
    sink: {output_dir: /data/clean}

    kind: transform                     # transform_processor/README.md:
    source: {path: /data/logs, table: logs}   # kql_query / ottl in YAML
    #   + format: snapshot [version: N]     # time-travel reads
    # sink: {output_dir: ..., format: snapshot}  # atomic versioned commits
    query:
      opl: "logs | where severity_text == 'ERROR' | summarize n = count() by tool"
      # or kql: "...", or ottl: [list of log_statements]
    sink: {output_dir: /data/out}

Unknown keys are ERRORS, not warnings — a typo'd option silently falling
back to a default is the classic config footgun (the reference's serde
spec parsing is strict the same way).

The contract (tests/test_config_front_end.py): a spec-driven run produces
the SAME manifest as the equivalent API-driven run — metrics, sinks, and
routed rows identical; only wall-clock timings may differ.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from otel_arrow_spark.plans.corpus import CorpusConfig, run_corpus_clean
from otel_arrow_spark.plans.pipeline import PipelineConfig, run_pipeline
from otel_arrow_spark.sinks import SINK_PARQUET_OPTIONS


class SpecError(ValueError):
    """Invalid pipeline spec (unknown key, missing field, bad type)."""


_KINDS = ("telemetry_pipeline", "corpus_clean", "transform")


@dataclass
class TransformConfig:
    """The transform processor's query-in-config deployment path
    (transform_processor/README.md: ``kql_query`` / ``ottl.log_statements``
    in YAML): one query-language program applied to a table.

    ``language`` ∈ {opl, kql, ottl}; for opl/kql ``query`` is the program
    text and ``table`` the source name it references; for ottl ``query``
    is the ordered statement list.
    """

    input_path: str
    output_dir: str
    language: str
    query: str | list
    table: str = "logs"
    # source format: "parquet" reads the path directly; "snapshot"
    # resolves it as a snapshot table (sources/snapshots.py), optionally
    # pinned to a historical version — config-driven time travel
    source_format: str = "parquet"
    source_version: int | None = None
    # "parquet" overwrites {out}/<port>/ in place; "snapshot" commits
    # each port through the snapshot table layer (sources/snapshots.py)
    # — every run is an atomic new version, history time-travelable
    sink_format: str = "parquet"


def load_spec(path: str) -> dict:
    """Read a YAML or JSON spec file into a dict (strictly a mapping)."""
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        spec = json.loads(text)
    else:
        import yaml

        spec = yaml.safe_load(text)
    if not isinstance(spec, dict):
        raise SpecError(f"spec root must be a mapping, got {type(spec).__name__}")
    return spec


def _section(spec: dict, name: str, allowed: dict[str, type | tuple],
             required: tuple[str, ...] = ()) -> dict:
    """Extract + strictly validate one spec section."""
    sec = spec.get(name, {})
    if sec is None:
        sec = {}
    if not isinstance(sec, dict):
        raise SpecError(f"section '{name}' must be a mapping")
    unknown = sorted(set(sec) - set(allowed))
    if unknown:
        raise SpecError(
            f"unknown key(s) {unknown} in section '{name}' "
            f"(allowed: {sorted(allowed)})"
        )
    for k in required:
        if k not in sec:
            raise SpecError(f"section '{name}' requires key '{k}'")
    for k, v in sec.items():
        want = allowed[k]
        if not isinstance(v, want):
            want_name = (
                "/".join(t.__name__ for t in want)
                if isinstance(want, tuple)
                else want.__name__
            )
            raise SpecError(
                f"'{name}.{k}' must be {want_name}, got {type(v).__name__}"
            )
    return sec


def _check_sections(spec: dict, allowed: set[str]) -> None:
    unknown = sorted(set(spec) - allowed)
    if unknown:
        raise SpecError(f"unknown top-level key(s) {unknown} (allowed: {sorted(allowed)})")


def run_transform(spark: SparkSession, cfg: TransformConfig) -> dict:
    """Execute a config-declared query program; write each output port to
    ``{out}/<port>/`` parquet; return the manifest (rows per port counted
    by observe() riding each write — no extra count jobs)."""
    import json as _json
    import os

    from pyspark.sql import Observation

    from otel_arrow_spark.plans.opl import run_opl
    from otel_arrow_spark.plans.ottl import run_ottl

    if cfg.source_format == "snapshot":
        from otel_arrow_spark.sources.snapshots import read_snapshot

        df = read_snapshot(spark, cfg.input_path, version=cfg.source_version)
    else:
        df = spark.read.parquet(cfg.input_path)
    if cfg.language in ("opl", "kql"):
        res = run_opl(cfg.query, {cfg.table: df})
        outputs = {"default": res.default}
        outputs.update({f"port_{name}": frame for name, frame in res.ports.items()})
    else:
        outputs = {"default": run_ottl(df, cfg.query)}

    os.makedirs(cfg.output_dir, exist_ok=True)
    manifest: dict = {
        "config": {"input": cfg.input_path, "language": cfg.language},
        "metrics": {},
        "sinks": {},
    }
    for name, frame in outputs.items():
        path = os.path.join(cfg.output_dir, name)
        obs = Observation(f"transform_{name}")
        observed = frame.observe(obs, F.count(F.lit(1)).alias("rows"))
        if cfg.sink_format == "snapshot":
            # overwrite semantics: each run's version IS that run's
            # output (append would compound reruns into the current
            # version while the manifest reports one run's counts);
            # prior runs stay readable via time travel
            from otel_arrow_spark.sources.snapshots import snapshot_overwrite

            v = snapshot_overwrite(spark, observed, path)
            manifest["sinks"][f"{name}_version"] = v
        else:
            observed.write.mode("overwrite").options(**SINK_PARQUET_OPTIONS).parquet(path)
        manifest["metrics"][f"rows_{name}"] = obs.get["rows"]
        manifest["sinks"][name] = path
    with open(os.path.join(cfg.output_dir, "MANIFEST.json"), "w") as f:
        _json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def spec_to_config(spec: dict) -> PipelineConfig | CorpusConfig | TransformConfig:
    """Validate a spec dict and build the matching plan config."""
    kind = spec.get("kind")
    if kind not in _KINDS:
        raise SpecError(f"'kind' must be one of {_KINDS}, got {kind!r}")

    if kind == "telemetry_pipeline":
        _check_sections(spec, {"kind", "source", "aggregate", "sink"})
        source = _section(spec, "source", {"path": str}, required=("path",))
        agg = _section(spec, "aggregate", {"keys": list})
        sink = _section(spec, "sink", {"output_dir": str}, required=("output_dir",))
        keys = agg.get("keys", ["conv_id", "tool", "severity_text"])
        if not all(isinstance(k, str) for k in keys):
            raise SpecError("aggregate.keys must be a list of column names")
        return PipelineConfig(
            input_path=source["path"],
            output_dir=sink["output_dir"],
            agg_keys=tuple(keys),
        )

    if kind == "transform":
        _check_sections(spec, {"kind", "source", "query", "sink"})
        source = _section(
            spec, "source",
            {"path": str, "table": str, "format": str, "version": int},
            required=("path",),
        )
        sfmt = source.get("format", "parquet")
        if sfmt not in ("parquet", "snapshot"):
            raise SpecError(
                f"source.format must be parquet|snapshot, got {sfmt!r}"
            )
        if "version" in source and sfmt != "snapshot":
            raise SpecError("source.version requires source.format: snapshot")
        query = _section(
            spec, "query", {"opl": str, "kql": str, "ottl": list}
        )
        sink = _section(
            spec, "sink", {"output_dir": str, "format": str},
            required=("output_dir",),
        )
        fmt = sink.get("format", "parquet")
        if fmt not in ("parquet", "snapshot"):
            raise SpecError(f"sink.format must be parquet|snapshot, got {fmt!r}")
        langs = [k for k in ("opl", "kql", "ottl") if k in query]
        if len(langs) != 1:
            raise SpecError(
                f"section 'query' needs exactly one of opl|kql|ottl, got {langs}"
            )
        lang = langs[0]
        return TransformConfig(
            input_path=source["path"],
            output_dir=sink["output_dir"],
            language=lang,
            query=query[lang],
            table=source.get("table", "logs"),
            source_format=sfmt,
            source_version=source.get("version"),
            sink_format=fmt,
        )

    _check_sections(
        spec, {"kind", "source", "dedup", "quality", "decontaminate",
               "semantic_dedup", "pack", "sink"}
    )
    source = _section(spec, "source", {"path": str}, required=("path",))
    dedup = _section(
        spec, "dedup", {"history_index_path": str}
    )
    quality = _section(
        spec, "quality", {"alpha_min": (int, float), "stopword_max": (int, float)}
    )
    decon = _section(spec, "decontaminate", {"bench_docs": int, "ngram": int})
    # presence of the section enables the SemDeDup stage; it needs the
    # embeddings table (vectors are not a documents column)
    sem = _section(
        spec, "semantic_dedup",
        {"embeddings_path": str, "threshold": (int, float), "n_clusters": int},
        required=("embeddings_path",) if "semantic_dedup" in spec else (),
    )
    pack = _section(spec, "pack", {"seq_len": int})
    sink = _section(spec, "sink", {"output_dir": str}, required=("output_dir",))
    return CorpusConfig(
        input_path=source["path"],
        output_dir=sink["output_dir"],
        seq_len=pack.get("seq_len", 512),
        alpha_min=float(quality.get("alpha_min", 0.8)),
        stopword_max=float(quality.get("stopword_max", 0.12)),
        bench_docs=decon.get("bench_docs", 3),
        ngram=decon.get("ngram", 8),
        history_index_path=dedup.get("history_index_path"),
        embeddings_path=sem.get("embeddings_path"),
        sem_threshold=float(sem.get("threshold", 0.42)),
        sem_clusters=sem.get("n_clusters", 8),
    )


def run_from_spec(
    spark: SparkSession,
    spec: str | dict,
    resume: bool = False,
    overrides: dict[str, Any] | None = None,
) -> dict:
    """Load (if a path), validate, build, and run; returns the manifest.

    ``overrides`` replaces config fields AFTER spec validation — the CLI
    escape hatch (--input/--output flags beat the file, like spark-submit
    --conf beats a properties file).
    """
    if isinstance(spec, str):
        spec = load_spec(spec)
    cfg = spec_to_config(spec)
    for k, v in (overrides or {}).items():
        if not hasattr(cfg, k):
            raise SpecError(f"unknown override field {k!r} for {type(cfg).__name__}")
        setattr(cfg, k, v)
    if isinstance(cfg, PipelineConfig):
        return run_pipeline(spark, cfg, resume=resume).manifest
    if isinstance(cfg, TransformConfig):
        return run_transform(spark, cfg)
    return run_corpus_clean(spark, cfg, resume=resume)
