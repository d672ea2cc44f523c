"""YAML config → pipeline compilation (the reference's config-driven
entry path: CollectionConfig → plugin chain → router)."""

from __future__ import annotations

from pyspark.sql import functions as F

from loongcollector_spark.plans.config_pipeline import load_config


class TestConfigPipeline:
    def test_yaml_end_to_end(self, spark, transcripts):
        cfg = load_config("/root/repo/configs/transcripts_pipeline.yaml")
        routed = cfg.run(transcripts)
        names = {r.name for r in cfg.router.routes}
        assert names == {"sink_model", "sink_parse_fail", "sink_all"}
        all_rows = cfg.router.sink(routed, "sink_all")
        assert all_rows.count() == transcripts.count()  # keep-fail + multicast
        model = cfg.router.sink(routed, "sink_model").select("role_class").distinct().collect()
        assert [r.role_class for r in model] == ["model"]
        # regex grammar rows parsed; others tagged
        ok = all_rows.filter("error_class = ''")
        assert ok.filter("user_key IS NULL").count() == 0
        fails = all_rows.filter("error_class = 'regex_parse_fail'")
        assert fails.count() == transcripts.count() - ok.count()
        # constant field from processor_add_fields
        assert all_rows.select("pipeline").distinct().collect()[0].pipeline == "transcripts_v1"

    def test_inline_yaml(self, spark, transcripts):
        cfg = load_config(
            """
processors:
  - Type: processor_pick_key
    Include: [conv_id, turn_idx, role]
"""
        )
        routed = cfg.run(transcripts)
        assert [r.name for r in cfg.router.routes] == ["default"]
        out = cfg.router.sink(routed, "default")
        assert out.columns == ["conv_id", "turn_idx", "role"]
        assert out.count() == transcripts.count()

    def test_discarding_tag_flusher(self, spark, transcripts):
        """DiscardingTag removes the matched tag from that flusher's copy
        only: NULL on its rows of the routed frame, column gone from its
        view, values kept on every other sink."""
        cfg = load_config(
            """
flushers:
  - Name: sink_model
    Match: {Key: role_class, Value: model, DiscardingTag: true}
  - Name: sink_all
"""
        )
        from loongcollector_spark.plans.transcript_pipeline import (
            TranscriptPipeline,
        )

        pipe = TranscriptPipeline()
        enriched = pipe.enrich(pipe.parse(transcripts))
        routed = cfg.run(enriched)
        by_sink = {
            r["__sink__"]: (r["n"], r["n_null"])
            for r in routed.groupBy("__sink__").agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("role_class").isNull(), 1)).alias("n_null"),
            ).collect()
        }
        n_model = enriched.filter("role_class = 'model'").count()
        assert by_sink["sink_model"] == (n_model, n_model)
        assert by_sink["sink_all"][1] == enriched.filter("role_class IS NULL").count()
        model = cfg.router.sink(routed, "sink_model")
        assert "role_class" not in model.columns and "__sink__" not in model.columns
        assert model.count() == n_model
        kept = cfg.router.sink(routed, "sink_all")
        assert kept.filter("role_class = 'model'").count() == n_model


class TestContainerConfig:
    def test_container_yaml_end_to_end(self, spark):
        from loongcollector_spark.plans.config_pipeline import load_config

        cfg = load_config("configs/container_pipeline.yaml")
        df = spark.createDataFrame(
            [
                ("f1", 0, "t stdout P ab"),
                ("f1", 1, "t stdout F cd"),
                ("f1", 2, "t stderr F solo"),
            ],
            "src string, off int, content string",
        )
        rows = {
            r.off: (r.content, r.n_merged)
            for r in cfg.router.sink(cfg.run(df), "sink_all").collect()
        }
        assert rows == {0: ("abcd", 2), 2: ("solo", 1)}


class TestAgentLogsConfig:
    def test_round3_plugins_yaml_end_to_end(self, spark, transcripts):
        """The round-3 plugins drive from the same YAML surface: Go
        regex parser (search), cloud_meta mock tags, event-level
        key-regex filter, regex-md5 desensitize."""
        cfg = load_config("/root/repo/configs/agent_logs_pipeline.yaml")
        out = cfg.router.sink(cfg.run(transcripts), "sink_all")
        rows = out.collect()
        assert rows, "some apsara-grammar rows must parse"
        import hashlib
        import re as _re

        for r in rows:
            assert r["__cloud_instance_id__"] == "id_xxx"
            assert r["region"] == "region_xxx"
            # only rows with a parsed user survive the key filter,
            # and the user id is md5-masked
            assert r["u_field"] is not None
            assert _re.fullmatch(r"[0-9a-f]{32}", r["u_field"]), r["u_field"]
        # at least one source text must contain the original uNN the
        # mask replaced (sanity that desensitize actually ran)
        src_users = {m for r in rows for m in _re.findall(r"user:(u\d+)", r["text"] or "")}
        hashed = {hashlib.md5(u.encode()).hexdigest() for u in src_users}
        assert {r["u_field"] for r in rows} <= hashed


class TestJobCliConfigMode:
    def test_run_pipeline_config_mode(self, spark, tmp_path):
        """jobs/run_pipeline.py --config drives an arbitrary YAML plugin
        chain end-to-end (the reference's config-driven entry path)."""
        import sys

        sys.path.insert(0, "/root/repo/jobs")
        import run_pipeline

        out = tmp_path / "cfg_out"
        rc = run_pipeline.main([
            "--input", "/root/testdata/sf0.001",
            "--from-events",
            "--output", str(out),
            "--config", "/root/repo/configs/agent_logs_pipeline.yaml",
        ])
        assert rc == 0
        back = spark.read.parquet(str(out / "routed" / "__sink__=sink_all"))
        assert back.count() > 0
        assert back.filter("u_field IS NULL").count() == 0
