"""Config-driven front-end contract: a YAML/JSON spec run reproduces the
API-driven run exactly (metrics, routed rows, sink layout — only
wall-clock timings may differ), and spec validation is strict.

Reference analog: the YAML/JSON OtelDataflowSpec deployment path
(rust/otap-dataflow/src/main.rs:247-295) — config declares the DAG, a
typo is a parse error, and the resulting pipeline is the same one the
programmatic API builds.
"""

from __future__ import annotations

import json

import pytest

from otel_arrow_spark.plans.config import (
    SpecError,
    load_spec,
    run_from_spec,
    spec_to_config,
)
from otel_arrow_spark.plans.corpus import CorpusConfig, run_corpus_clean
from otel_arrow_spark.plans.pipeline import PipelineConfig, run_pipeline

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _comparable(manifest: dict, out_dir: str) -> dict:
    """Manifest minus wall-clock + with sink paths made relative."""
    m = json.loads(json.dumps({k: v for k, v in manifest.items()
                               if k not in ("timings_sec", "manifest_path")}))
    m["sinks"] = {k: v.replace(out_dir, "<out>") for k, v in m["sinks"].items()}
    m["config"] = {k: ("<out>" if isinstance(v, str) and out_dir in v else v)
                   for k, v in m.get("config", {}).items()}
    return m


class TestTelemetrySpec:
    def test_spec_run_matches_api_run(self, spark, tiny_transcripts, workdir, tmp_path):
        api_out = f"{workdir}/cfg_api_out"
        spec_out = f"{workdir}/cfg_spec_out"
        api = run_pipeline(
            spark, PipelineConfig(input_path=tiny_transcripts, output_dir=api_out)
        ).manifest

        spec_file = tmp_path / "pipe.yaml"
        spec_file.write_text(
            "kind: telemetry_pipeline\n"
            f"source: {{path: {tiny_transcripts}}}\n"
            "aggregate:\n  keys: [conv_id, tool, severity_text]\n"
            f"sink: {{output_dir: {spec_out}}}\n"
        )
        got = run_from_spec(spark, str(spec_file))

        # byte-for-byte modulo output prefix + wall-clock
        assert json.dumps(_comparable(got, spec_out), sort_keys=True) == json.dumps(
            _comparable(api, api_out), sort_keys=True
        )
        # and the routed rows themselves are identical
        a = spark.read.parquet(f"{api_out}/routed")
        b = spark.read.parquet(f"{spec_out}/routed")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_json_spec_equivalent_to_yaml(self, tmp_path):
        y = tmp_path / "p.yaml"
        y.write_text(
            "kind: telemetry_pipeline\nsource: {path: /in}\nsink: {output_dir: /out}\n"
        )
        j = tmp_path / "p.json"
        j.write_text(json.dumps({
            "kind": "telemetry_pipeline",
            "source": {"path": "/in"},
            "sink": {"output_dir": "/out"},
        }))
        assert spec_to_config(load_spec(str(y))) == spec_to_config(load_spec(str(j)))

    def test_defaults_match_dataclass_defaults(self):
        cfg = spec_to_config({
            "kind": "telemetry_pipeline",
            "source": {"path": "/in"},
            "sink": {"output_dir": "/out"},
        })
        ref = PipelineConfig(input_path="/in", output_dir="/out")
        assert cfg == ref


class TestCorpusSpec:
    def test_spec_run_matches_api_run(self, spark, workdir, tmp_path):
        api_out = f"{workdir}/corpus_api_out"
        spec_out = f"{workdir}/corpus_spec_out"
        api = run_corpus_clean(
            spark, CorpusConfig(input_path=DOCS, output_dir=api_out)
        )
        spec_file = tmp_path / "corpus.yaml"
        spec_file.write_text(
            "kind: corpus_clean\n"
            f"source: {{path: {DOCS}}}\n"
            "quality: {alpha_min: 0.8, stopword_max: 0.12}\n"
            "decontaminate: {bench_docs: 3, ngram: 8}\n"
            "pack: {seq_len: 512}\n"
            f"sink: {{output_dir: {spec_out}}}\n"
        )
        got = run_from_spec(spark, str(spec_file))
        assert got["metrics"] == api["metrics"]
        assert got["config"] == api["config"] or (
            {k: v for k, v in got["config"].items() if k != "input"}
            == {k: v for k, v in api["config"].items() if k != "input"}
        )

    def test_semantic_spec_run_matches_api_run(self, spark, workdir, tmp_path):
        """The semantic_dedup spec section drives the SemDeDup stage: the
        spec-run manifest (including after_semantic) equals the API-run
        manifest, and the stage actually dropped documents."""
        emb = "/root/testdata/sf0.001/embeddings.parquet"
        api_out = f"{workdir}/corpus_sem_api_out"
        spec_out = f"{workdir}/corpus_sem_spec_out"
        api = run_corpus_clean(
            spark,
            CorpusConfig(input_path=DOCS, output_dir=api_out,
                         embeddings_path=emb, sem_threshold=0.42,
                         sem_clusters=8),
        )
        spec_file = tmp_path / "corpus_sem.yaml"
        spec_file.write_text(
            "kind: corpus_clean\n"
            f"source: {{path: {DOCS}}}\n"
            "quality: {alpha_min: 0.8, stopword_max: 0.12}\n"
            "decontaminate: {bench_docs: 3, ngram: 8}\n"
            f"semantic_dedup: {{embeddings_path: {emb}, threshold: 0.42, n_clusters: 8}}\n"
            "pack: {seq_len: 512}\n"
            f"sink: {{output_dir: {spec_out}}}\n"
        )
        got = run_from_spec(spark, str(spec_file))
        assert got["metrics"] == api["metrics"]
        assert got["config"]["semantic_dedup"] == api["config"]["semantic_dedup"]
        assert "after_semantic" in got["metrics"]
        assert got["metrics"]["after_semantic"] <= got["metrics"]["after_decontaminate"]
        # packed outputs identical
        a = spark.read.parquet(f"{api_out}/packed")
        b = spark.read.parquet(f"{spec_out}/packed")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_history_index_spec_run_matches_api_run(self, spark, workdir, tmp_path):
        """The dedup.history_index_path spec section drives the
        cross-batch gate: docs whose fingerprints sit in the persisted
        index fail ded_keep, spec run == API run, and the gate actually
        dropped documents relative to an index-free run."""
        from pyspark.sql import functions as F

        from otel_arrow_spark.textops.dedup import text_fingerprints

        idx = f"{workdir}/corpus_hist_idx"
        docs = spark.read.parquet(DOCS)
        text_fingerprints(docs.where(F.col("doc_id") % 5 == 0)).write.mode(
            "overwrite"
        ).parquet(idx)
        api_out = f"{workdir}/corpus_hist_api_out"
        spec_out = f"{workdir}/corpus_hist_spec_out"
        base = run_corpus_clean(
            spark, CorpusConfig(input_path=DOCS,
                                output_dir=f"{workdir}/corpus_hist_base")
        )
        api = run_corpus_clean(
            spark,
            CorpusConfig(input_path=DOCS, output_dir=api_out,
                         history_index_path=idx),
        )
        assert api["metrics"]["after_dedup"] < base["metrics"]["after_dedup"]
        assert api["config"]["history_index"] == idx
        spec_file = tmp_path / "corpus_hist.yaml"
        spec_file.write_text(
            "kind: corpus_clean\n"
            f"source: {{path: {DOCS}}}\n"
            f"dedup: {{history_index_path: {idx}}}\n"
            "pack: {seq_len: 512}\n"
            f"sink: {{output_dir: {spec_out}}}\n"
        )
        got = run_from_spec(spark, str(spec_file))
        assert got["metrics"] == api["metrics"]
        a = spark.read.parquet(f"{api_out}/packed")
        b = spark.read.parquet(f"{spec_out}/packed")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_semantic_section_requires_embeddings(self):
        with pytest.raises(SpecError, match="embeddings_path"):
            spec_to_config({
                "kind": "corpus_clean",
                "source": {"path": "/in"},
                "semantic_dedup": {"threshold": 0.5},
                "sink": {"output_dir": "/out"},
            })

    def test_overrides_beat_file(self, tmp_path):
        cfg = spec_to_config({
            "kind": "corpus_clean",
            "source": {"path": "/in"},
            "pack": {"seq_len": 128},
            "sink": {"output_dir": "/out"},
        })
        assert cfg.seq_len == 128
        with pytest.raises(SpecError, match="unknown override"):
            from pyspark.sql import SparkSession  # noqa: F401

            run_from_spec(None, {
                "kind": "corpus_clean",
                "source": {"path": "/in"},
                "sink": {"output_dir": "/out"},
            }, overrides={"nope": 1})


class TestSpecValidation:
    BASE = {
        "kind": "telemetry_pipeline",
        "source": {"path": "/in"},
        "sink": {"output_dir": "/out"},
    }

    def test_unknown_top_level_key_rejected(self):
        with pytest.raises(SpecError, match="unknown top-level"):
            spec_to_config({**self.BASE, "aggregte": {}})  # typo'd section

    def test_unknown_section_key_rejected(self):
        with pytest.raises(SpecError, match="unknown key"):
            spec_to_config({**self.BASE, "aggregate": {"keyz": ["conv_id"]}})

    def test_bad_kind_rejected(self):
        with pytest.raises(SpecError, match="'kind' must be"):
            spec_to_config({**self.BASE, "kind": "magic"})

    def test_missing_required_rejected(self):
        with pytest.raises(SpecError, match="requires key 'path'"):
            spec_to_config({"kind": "telemetry_pipeline", "source": {},
                            "sink": {"output_dir": "/out"}})

    def test_wrong_type_rejected(self):
        with pytest.raises(SpecError, match="must be"):
            spec_to_config({**self.BASE, "aggregate": {"keys": "conv_id"}})

    def test_removed_engine_and_salt_keys_rejected(self):
        """The parse section and the salting keys are gone: a spec that
        still sets them fails loudly instead of being ignored."""
        for section, body in (
            ("parse", {"engine": "pandas"}),
            ("aggregate", {"salted": True}),
            ("aggregate", {"n_salts": 8}),
        ):
            with pytest.raises(SpecError, match="unknown"):
                spec_to_config({**self.BASE, section: body})

    def test_non_mapping_root_rejected(self, tmp_path):
        f = tmp_path / "bad.yaml"
        f.write_text("- just\n- a list\n")
        with pytest.raises(SpecError, match="mapping"):
            load_spec(str(f))


class TestJobCli:
    def test_run_pipeline_config_flag(self, spark, tiny_transcripts, workdir,
                                      tmp_path, capsys):
        import jobs.run_pipeline as job

        out = f"{workdir}/cli_cfg_out"
        spec_file = tmp_path / "cli.yaml"
        spec_file.write_text(
            "kind: telemetry_pipeline\n"
            "source: {path: WILL_BE_OVERRIDDEN}\n"
            f"sink: {{output_dir: {out}}}\n"
        )
        rc = job.main([
            "--config", str(spec_file),
            "--input", tiny_transcripts,  # CLI override beats the file
            "--master", "local[4]",
        ])
        assert rc == 0
        manifest = json.loads(capsys.readouterr().out)
        assert manifest["metrics"]["rows_in"] == 4000

    def test_run_pipeline_requires_config_or_paths(self):
        import jobs.run_pipeline as job

        with pytest.raises(SystemExit):
            job.main(["--input", "/only/input"])


class TestTransformSpec:
    """The transform processor's query-in-config path
    (transform_processor/README.md: kql_query / ottl in YAML)."""

    def test_opl_transform_with_ports(self, spark, tiny_transcripts, workdir, tmp_path):
        out = f"{workdir}/transform_spec_out"
        spec_file = tmp_path / "t.yaml"
        spec_file.write_text(
            "kind: transform\n"
            f"source: {{path: {tiny_transcripts}, table: logs}}\n"
            "query:\n"
            "  opl: \"logs | if (role == 'assistant') { route_to 'model' } "
            "else { route_to 'other' }\"\n"
            f"sink: {{output_dir: {out}}}\n"
        )
        manifest = run_from_spec(spark, str(spec_file))
        assert set(manifest["sinks"]) == {"default", "port_model", "port_other"}
        n_model = spark.read.parquet(manifest["sinks"]["port_model"]).count()
        n_other = spark.read.parquet(manifest["sinks"]["port_other"]).count()
        df = spark.read.parquet(tiny_transcripts)
        assert n_model == df.where("role = 'assistant'").count()
        assert n_model + n_other == df.count()
        assert manifest["metrics"]["rows_port_model"] == n_model

    def test_kql_and_ottl_forms(self, spark, tiny_transcripts, workdir):
        kql = run_from_spec(spark, {
            "kind": "transform",
            "source": {"path": tiny_transcripts, "table": "logs"},
            "query": {"kql": "logs | summarize n = count() by role"},
            "sink": {"output_dir": f"{workdir}/transform_kql_out"},
        })
        assert kql["metrics"]["rows_default"] == 4  # one row per role
        ottl = run_from_spec(spark, {
            "kind": "transform",
            "source": {"path": tiny_transcripts},
            "query": {"ottl": ['set(tool, "redacted") where role == "tool"']},
            "sink": {"output_dir": f"{workdir}/transform_ottl_out"},
        })
        got = spark.read.parquet(ottl["sinks"]["default"])
        assert got.where("role = 'tool' and tool != 'redacted'").count() == 0
        assert ottl["metrics"]["rows_default"] == 4000

    def test_snapshot_sink_format(self, spark, tiny_transcripts, workdir):
        """sink.format=snapshot commits each transform run as an atomic
        table version: two runs → two versions, time travel works, and
        the manifest records the committed version."""
        from otel_arrow_spark.sources.snapshots import (
            current_version,
            read_snapshot,
        )

        out = f"{workdir}/transform_snap_out"
        spec = {
            "kind": "transform",
            "source": {"path": tiny_transcripts, "table": "logs"},
            "query": {"kql": "logs | summarize n = count() by role"},
            "sink": {"output_dir": out, "format": "snapshot"},
        }
        m1 = run_from_spec(spark, spec)
        m2 = run_from_spec(spark, spec)
        t = m1["sinks"]["default"]
        assert (m1["sinks"]["default_version"],
                m2["sinks"]["default_version"]) == (1, 2)
        assert current_version(t) == 2
        # overwrite semantics: each version IS one run's output; history
        # stays time-travelable
        assert read_snapshot(spark, t, version=1).count() == 4
        assert read_snapshot(spark, t).count() == 4

    def test_snapshot_source_with_time_travel(self, spark, workdir):
        """source.format=snapshot reads a snapshot table, and
        source.version pins a historical version — config-driven time
        travel on the read side."""
        from otel_arrow_spark.sources.snapshots import snapshot_append

        t = f"{workdir}/transform_snap_src"
        snapshot_append(spark, spark.range(4).selectExpr(
            "id", "'a' as role"), t)
        snapshot_append(spark, spark.range(4, 10).selectExpr(
            "id", "'b' as role"), t)
        latest = run_from_spec(spark, {
            "kind": "transform",
            "source": {"path": t, "table": "logs", "format": "snapshot"},
            "query": {"kql": "logs | summarize n = count() by role"},
            "sink": {"output_dir": f"{workdir}/tss_latest"},
        })
        pinned = run_from_spec(spark, {
            "kind": "transform",
            "source": {"path": t, "table": "logs", "format": "snapshot",
                       "version": 1},
            "query": {"kql": "logs | summarize n = count() by role"},
            "sink": {"output_dir": f"{workdir}/tss_v1"},
        })
        assert latest["metrics"]["rows_default"] == 2   # roles a and b
        assert pinned["metrics"]["rows_default"] == 1   # v1: only role a

    def test_version_requires_snapshot_format(self):
        with pytest.raises(SpecError, match="source.version"):
            spec_to_config({
                "kind": "transform",
                "source": {"path": "/in", "version": 2},
                "query": {"kql": "logs | take 1"},
                "sink": {"output_dir": "/out"},
            })

    def test_bad_sink_format_rejected(self):
        with pytest.raises(SpecError, match="parquet|snapshot"):
            spec_to_config({
                "kind": "transform",
                "source": {"path": "/in"},
                "query": {"kql": "logs | take 1"},
                "sink": {"output_dir": "/out", "format": "iceberg"},
            })

    def test_exactly_one_language_required(self):
        base = {
            "kind": "transform",
            "source": {"path": "/in"},
            "sink": {"output_dir": "/out"},
        }
        with pytest.raises(SpecError, match="exactly one"):
            spec_to_config({**base, "query": {"opl": "a", "kql": "b"}})
        with pytest.raises(SpecError, match="exactly one"):
            spec_to_config({**base, "query": {}})
