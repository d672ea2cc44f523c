"""Router semantics: multicast copies, DiscardingTag, the routed frame
and its per-sink views, metrics and job outputs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.routing import (
    ExprCondition,
    LogstoreRouter,
    Route,
    Router,
    TagCondition,
)
from tests.conftest import SF_DIR

JOBS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def _df(spark):
    rows = [
        ("r1", "log", "a"),
        ("r2", "metric", "a"),
        ("r3", "log", "b"),
    ]
    return spark.createDataFrame(rows, "id string, kind string, tag string")


class TestRouter:
    def test_multicast_copies(self, spark):
        """Router.cpp:50-82 — a row matching k conditions lands in all k
        sinks, unconditional sinks always receive."""
        router = Router([
            Route("logs", TagCondition("kind", "log")),
            Route("tag_a", TagCondition("tag", "a")),
            Route("everything", None),
        ])
        routed = router.route_multicast_exploded(_df(spark))
        got = {
            name: sorted(r.id for r in router.sink(routed, name).collect())
            for name in ("logs", "tag_a", "everything")
        }
        assert got["logs"] == ["r1", "r3"]
        assert got["tag_a"] == ["r1", "r2"]
        assert got["everything"] == ["r1", "r2", "r3"]  # multicast

    def test_discarding_tag(self, spark):
        router = Router([
            Route("logs", TagCondition("kind", "log", discarding_tag=True)),
        ])
        out = router.sink(router.route_multicast_exploded(_df(spark)), "logs")
        assert "kind" not in out.columns
        assert "__sink__" not in out.columns

    def test_exploded_equals_filtered(self, spark):
        router = Router([
            Route("logs", ExprCondition("kind = 'log'")),
            Route("everything", None),
        ])
        df = _df(spark)
        routed = router.route_multicast_exploded(df)
        for name, predicate in (
            ("logs", F.col("kind") == "log"),
            ("everything", F.lit(True)),
        ):
            a = sorted(tuple(r) for r in router.sink(routed, name).collect())
            b = sorted(tuple(r) for r in df.filter(predicate).collect())
            assert a == b, name

    def test_exclusive_first_match_wins(self, spark):
        router = Router([
            Route("logs", TagCondition("kind", "log")),
            Route("tag_a", TagCondition("tag", "a")),
            Route("rest", None),
        ])
        tagged = router.route_exclusive_tagged(_df(spark))
        got = {r["id"]: r["__sink__"] for r in tagged.collect()}
        assert got == {"r1": "logs", "r2": "tag_a", "r3": "logs"}

    def test_logstore_router_drop_dismatch(self, spark):
        router = LogstoreRouter(
            source_key="kind",
            router_regex=["log"],
            router_logstore=["logstore_a"],
            drop_dis_match=True,
        )
        out = router(_df(spark))
        assert sorted(r.id for r in out.collect()) == ["r1", "r3"]


class TestFieldsWithConditionRegexp:
    def test_regexp_relation_is_search_not_fullmatch(self, spark):
        # Go regexp.MatchString searches anywhere in the value
        # (processor_fields_with_condition.go:125-127)
        from loongcollector_spark.operators.enrich import FieldsWithCondition

        df = spark.createDataFrame(
            [("prefix-ERR-42-suffix",), ("clean",)], "msg string"
        )
        out = FieldsWithCondition(Switch=[{
            "Case": {"RelationOperator": "regexp",
                     "FieldConditions": {"msg": r"ERR-\d+"}},
            "AddFields": {"sev": "error"},
        }])(df)
        got = {r.msg: r.sev for r in out.collect()}
        assert got["prefix-ERR-42-suffix"] == "error"  # substring hit
        assert got["clean"] is None


class TestFilterKeyRegexEventFilter:
    def test_drops_logs_not_columns(self, spark):
        # go:69-97 — "if key is unmatched, drop this log": whole-event
        # semantics over present (non-NULL) field NAMES
        from loongcollector_spark.operators.filters import FilterKeyRegex

        df = spark.createDataFrame(
            [(0, "v", None), (1, None, "x"), (2, "v", "x")],
            "i int, wanted string, legacy_old string",
        )
        out = FilterKeyRegex(Include=["want"], Exclude=["legacy_"])(df)
        rows = out.collect()
        assert [r.i for r in rows] == [0]  # 1: include missing; 2: excluded
        assert set(out.columns) == {"i", "wanted", "legacy_old"}  # no projection
        # include regex matching no column name at all → empty
        assert FilterKeyRegex(Include=["nope"])(df).count() == 0


class TestCloudMeta:
    def test_mock_platform_flags_rename_jsonpath(self, spark):
        # MockManager constants (pkg/helper/platformmeta/mock.go:28-71)
        from loongcollector_spark.operators.enrich import CloudMeta

        df = spark.createDataFrame([("x",)], "v string")
        out = CloudMeta(
            Platform="mock",
            Metadata=["__cloud_instance_id__", "__cloud_region__"],
            RenameMetadata={"__cloud_region__": "region"},
        )(df).collect()[0]
        assert out["__cloud_instance_id__"] == "id_xxx"
        assert out["region"] == "region_xxx"
        packed = CloudMeta(
            Platform="mock",
            Metadata=["__cloud_zone__"],
            JSONPath="cloud_meta",
        )(df).collect()[0]
        assert packed["cloud_meta"] == '{"__cloud_zone__":"zone_xxx"}'


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def cleared_cache(spark, transcripts):
    """Start from an empty cache manager; re-cache the shared fixture after."""
    spark.catalog.clearCache()
    yield
    transcripts.cache()


def _per_sink(df, sink_col, value=None):
    agg = F.count(F.lit(1)) if value is None else F.sum(value)
    return {r[0]: r[1] for r in df.groupBy(sink_col).agg(agg).collect()}


class TestRoutedFrame:
    def test_metrics_count_only_the_rows_given(self, spark, transcripts):
        """Metrics describe the frame they are handed: dropping one sink
        (or some rows) from the routed frame drops them from the counts —
        there is no shortcut that re-derives the sinks."""
        from loongcollector_spark.plans.transcript_pipeline import (
            TranscriptPipeline,
        )

        pipe = TranscriptPipeline()
        routed = pipe.run_single_pass(transcripts)
        no_model = pipe.metrics(routed.filter(F.col("__sink__") != "sink_model"))
        assert _per_sink(no_model, "sink", "n_rows").get("sink_model") is None
        kept = routed.filter(F.col("turn_idx") < 3)
        got = _per_sink(pipe.metrics(kept), "sink", "n_rows")
        want = _per_sink(kept, "__sink__")
        assert got == want and want["sink_all"] < transcripts.count()

    def test_no_cache_left_after_metrics(self, spark, transcripts, cleared_cache):
        """Routing persists nothing: after a metrics action over the
        routed frame Spark's cache manager holds no entry."""
        from loongcollector_spark.plans.transcript_pipeline import (
            TranscriptPipeline,
        )

        pipe = TranscriptPipeline()
        pipe.metrics(pipe.run_single_pass(transcripts)).collect()
        assert _cache_empty(spark)


class TestJobModes:
    @staticmethod
    def _main(argv):
        import contextlib
        import io
        import json
        import sys

        sys.path.insert(0, JOBS_DIR)
        import run_pipeline

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert run_pipeline.main(argv) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def test_default_mode_metrics_match_written_rows(self, spark, tmp_path):
        out = tmp_path / "job_out"
        summary = self._main([
            "--input", SF_DIR, "--from-events", "--output", str(out),
        ])
        written = _per_sink(spark.read.parquet(str(out / "routed")), "__sink__")
        metrics = spark.read.parquet(str(out / "__metrics__"))
        assert _per_sink(metrics, "sink", "n_rows") == written
        assert set(written) == {"sink_model", "sink_errors", "sink_all"}
        routed_obs = summary["stage_metrics"]["routed"]
        assert routed_obs["in_events_total"] == sum(written.values())

    def test_resumable_mode_leaves_no_cache(self, spark, tmp_path, cleared_cache):
        out = tmp_path / "resume_out"
        argv = [
            "--input", SF_DIR, "--from-events", "--output", str(out),
            "--checkpoint", str(tmp_path / "resume_ck"),
        ]
        summary = self._main(argv)
        assert _cache_empty(spark)
        assert set(summary["processed_units"]) == {
            "sink_model", "sink_errors", "sink_all"
        }
        back = spark.read.parquet(str(out / "sink_model"))
        assert "__sink__" not in back.columns
        assert back.select("role_class").distinct().collect()[0][0] == "model"
        # a rerun skips every committed unit
        assert self._main(argv)["processed_units"] == {}
