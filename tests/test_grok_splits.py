"""Grok compiler + split/merge operator tests (reference:
plugins/processor/grok/processor_grok_test.go fixtures;
plugins/processor/split/*)."""

from __future__ import annotations

import pytest

from loongcollector_spark.operators.grok import (
    DEFAULT_PATTERNS,
    Grok,
    GrokCompileError,
    denormalize_pattern,
)
from loongcollector_spark.operators.splits import (
    MergeMultilineLog,
    SplitChar,
    SplitLogRegex,
    SplitLogString,
)
from tests.conftest import rows_as_dicts

# the two grok paths: the JVM plan (no deadline) and the per-log deadline
# path, which a deadline far above any row's match time selects
GROK_PATHS = {"jvm": {}, "deadline": {"TimeoutMilliSeconds": 60_000}}


class TestGrokCompiler:
    def test_expansion(self):
        rx, aliases = denormalize_pattern(
            "%{INT:n} %{WORD:w}", DEFAULT_PATTERNS
        )
        assert aliases == ["n", "w"]
        import re

        m = re.fullmatch(rx, "42 hello")
        assert m.group(1) == "42" and m.group(2) == "hello"

    def test_unknown_pattern(self):
        with pytest.raises(GrokCompileError, match="unknown"):
            denormalize_pattern("%{NOPE:x}", DEFAULT_PATTERNS)

    def test_cycle_detection(self):
        lib = {"A": "%{B}", "B": "%{A}"}
        with pytest.raises(GrokCompileError, match="cycle"):
            denormalize_pattern("%{A}", lib)

    def test_nested_alias_groups(self):
        """IP expands through IPV4/IPV6 — inner groups must not shift
        alias group indices."""
        rx, aliases = denormalize_pattern(
            "%{IP:client} %{NUMBER:size}", DEFAULT_PATTERNS
        )
        import re

        m = re.fullmatch(rx, "10.0.0.1 123")
        assert m.group(1) == "10.0.0.1"
        assert m.group(len(aliases) and m.re.groups) or True  # sanity only
        assert aliases == ["client", "size"]


class TestGrokProcessor:
    """file-grok.yaml example + processor_grok_test.go shape."""

    LINE = "10.0.0.0 GET /index.html 15824 0.043"

    def test_custom_pattern_http(self, text_df_factory):
        df = text_df_factory([self.LINE, "no match at all !!"])
        proc = Grok(
            SourceKey="content",
            CustomPatterns={
                "HTTP": "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes} %{NUMBER:duration}"
            },
            Match=["%{HTTP}"],
        )
        rows = rows_as_dicts(proc(df))
        assert len(rows) == 1
        r = rows[0]
        assert r["client"] == "10.0.0.0"
        assert r["method"] == "GET"
        assert r["request"] == "/index.html"
        assert r["bytes"] == "15824"
        assert r["duration"] == "0.043"

    def test_multi_pattern_first_match_wins(self, text_df_factory):
        df = text_df_factory(["a=1", "b 2", "zzz"])
        proc = Grok(
            SourceKey="content",
            Match=[r"%{WORD:k}=%{INT:v}", r"%{WORD:k} %{INT:v2}"],
            IgnoreParseFailure=True,
        )
        rows = rows_as_dicts(proc(df))
        assert rows[0]["k"] == "a" and rows[0]["v"] == "1" and rows[0]["v2"] is None
        assert rows[1]["k"] == "b" and rows[1]["v2"] == "2" and rows[1]["v"] is None
        assert rows[2]["k"] is None

    def test_python_engine_parity(self, text_df_factory):
        df = text_df_factory(["a=1", "b 2", "zzz"])
        kw = dict(
            SourceKey="content",
            Match=[r"%{WORD:k}=%{INT:v}", r"%{WORD:k} %{INT:v2}"],
            IgnoreParseFailure=True,
        )
        jvm = rows_as_dicts(Grok(**kw)(df))
        py = rows_as_dicts(Grok(**GROK_PATHS["deadline"], **kw)(df))
        for a, b in zip(jvm, py):
            for key in ("k", "v", "v2"):
                assert a[key] == b[key], (key, a, b)

    def test_error_class_tagging(self, text_df_factory):
        df = text_df_factory(["a=1", "zzz"])
        proc = Grok(
            SourceKey="content",
            Match=[r"%{WORD:k}=%{INT:v}"],
            ErrorClassKey="ec",
        )
        rows = rows_as_dicts(proc(df))
        assert rows[0]["ec"] == "" and rows[1]["ec"] == "grok_parse_fail"

    def test_overlapping_patterns_first_match_only(self, text_df_factory):
        """A row matching BOTH patterns must extract only the first's
        aliases — an alias existing only in the later pattern stays NULL
        (processor_grok.go:148-194 stops at the first matching Match)."""
        df = text_df_factory(["hello world"])
        kw = dict(
            SourceKey="content",
            # both match "hello world"; only pattern 0's aliases may fill
            Match=[r"%{WORD:a} %{WORD:b}", r"%{DATA:whole}"],
            IgnoreParseFailure=True,
        )
        for eng, path in GROK_PATHS.items():
            r = rows_as_dicts(Grok(**path, **kw)(df))[0]
            assert r["a"] == "hello" and r["b"] == "world", eng
            assert r["whole"] is None, eng

    def test_wide_pattern_single_extract(self, text_df_factory):
        """VERDICT r2 #3: multi-alias full-match patterns take the
        single-execution regexp_replace+split path. Parity across: the
        9-alias wide line, a source containing the \\x01 separator byte
        (per-row fallback to per-group extracts), a non-participating
        optional group (''), and the deadline path."""
        wide = (
            "%{IPV4:ip} %{WORD:meth} %{URIPATH:path} %{INT:code} %{INT:size} "
            "%{QUOTEDSTRING:ref} %{QUOTEDSTRING:ua} %{NUMBER:rt}"
            "(?: %{WORD:proto})?"
        )
        lines = [
            '10.0.0.1 GET /x/y 200 123 "r" "u" 1.5 http',
            '10.0.0.2 POST /z 500 0 "a\x01b" "u2" 0.25 https',  # sep byte
            '10.0.0.3 PUT /q 204 7 "rr" "uu" 9.75',  # optional group absent
            "garbage",
        ]
        kw = dict(SourceKey="content", Match=[wide], IgnoreParseFailure=True)
        jvm = rows_as_dicts(Grok(**kw)(text_df_factory(lines)))
        assert jvm[0]["ip"] == "10.0.0.1" and jvm[0]["proto"] == "http"
        assert jvm[0]["ref"] == '"r"' and jvm[0]["rt"] == "1.5"
        assert jvm[1]["ref"] == '"a\x01b"'  # fallback path sliced correctly
        assert jvm[1]["proto"] == "https" and jvm[1]["code"] == "500"
        assert jvm[2]["proto"] == ""  # non-participating group → ''
        assert jvm[2]["rt"] == "9.75"
        assert jvm[3]["ip"] is None
        py = rows_as_dicts(
            Grok(**GROK_PATHS["deadline"], **kw)(text_df_factory(lines))
        )
        for a, b in zip(jvm, py):
            for key in ("ip", "meth", "path", "code", "size", "ref", "ua", "rt"):
                assert a[key] == b[key], (key, a, b)

    def test_python_optional_first_group(self, text_df_factory):
        """Pattern whose FIRST aliased group is optional: the row still
        counts as matched even when group 1 is empty/absent."""
        df = text_df_factory(["GET /x", "/y"])
        kw = dict(
            SourceKey="content",
            CustomPatterns={"OPTM": r"(?:%{WORD:method} )?%{URIPATH:path}"},
            Match=["%{OPTM}"],
            ErrorClassKey="ec",
        )
        for eng, path in GROK_PATHS.items():
            rows = rows_as_dicts(Grok(**path, **kw)(df))
            assert [r["ec"] for r in rows] == ["", ""], eng
            assert rows[1]["path"] == "/y", eng

    def test_python_zero_capture_groups(self, text_df_factory):
        """A Match pattern with no aliases must not crash either path and
        must mark hit rows matched."""
        df = text_df_factory(["abc123", "!!!"])
        for eng, path in GROK_PATHS.items():
            rows = rows_as_dicts(
                Grok(
                    **path,
                    SourceKey="content",
                    Match=[r"%{WORD}"],
                    ErrorClassKey="ec",
                )(df)
            )
            assert rows[0]["ec"] == "", eng
            assert rows[1]["ec"] == "grok_parse_fail", eng

    def test_timeout_catastrophic_pattern(self, text_df_factory):
        """Catastrophic-backtracking pattern + long non-matching row must
        complete under the per-log deadline and be tagged a parse failure
        (processor_grok.go:47,149 TimeoutMilliSeconds semantics)."""
        import time

        evil = "a" * 40 + "b"
        df = text_df_factory([evil, "aaa"])
        proc = Grok(
            SourceKey="content",
            CustomPatterns={"EVIL": r"(a+)+$"},
            Match=["%{EVIL:x}"],
            ErrorClassKey="ec",
            TimeoutMilliSeconds=50,
        )
        t0 = time.time()
        rows = rows_as_dicts(proc(df))
        assert time.time() - t0 < 30
        assert rows[0]["ec"] == "grok_parse_fail" and rows[0]["x"] is None
        assert rows[1]["ec"] == "" and rows[1]["x"] == "aaa"

    def test_max_source_length_guard(self, text_df_factory):
        """Rows longer than MaxSourceLength are treated as unmatched in
        BOTH paths without entering the regex."""
        long_row = "k=" + "1" * 100
        df = text_df_factory(["a=1", long_row])
        kw = dict(
            SourceKey="content",
            Match=[r"%{WORD:k}=%{INT:v}"],
            ErrorClassKey="ec",
            MaxSourceLength=16,
        )
        for eng, path in GROK_PATHS.items():
            rows = rows_as_dicts(Grok(**path, **kw)(df))
            assert rows[0]["ec"] == "" and rows[0]["v"] == "1", eng
            assert rows[1]["ec"] == "grok_parse_fail" and rows[1]["v"] is None, eng

    def test_ascii_classes_on_every_engine_path(self, text_df_factory):
        """``\\w\\d\\s`` are ASCII classes on the JVM path and the deadline
        path, with a plain Match list and with one that holds a lookahead:
        non-ASCII letters, digits and spaces never match, whichever path
        runs."""
        lines = ["naïve 42", "ab 12", "x ٤٢", "plain 7"]
        want = [("ve", "42"), (None, None), (None, None), ("plain", "7")]
        kw = dict(
            SourceKey="content", FullMatch=False, IgnoreParseFailure=True,
            CustomPatterns={"W": r"\w+", "D": r"\d+"},
        )
        plain = [r"%{W:w}\s%{D:n}"]
        lookahead = plain + [r"(?=zzz)%{W:z}"]
        df = text_df_factory(lines)
        for eng, path in GROK_PATHS.items():
            for name, match in (("plain", plain), ("lookahead", lookahead)):
                g = Grok(Match=match, **path, **kw)
                got = [(r["w"], r["n"]) for r in rows_as_dicts(g(df))]
                assert got == want, (eng, name)

    def test_deadline_selects_the_python_path(self, text_df_factory):
        """Through the config layer, ``TimeoutMilliSeconds > 0`` plans the
        deadline path's Python UDF (the JVM regex cannot honour a per-log
        deadline); the same config without it plans none. ``Engine`` is
        not a config key."""
        from loongcollector_spark.operators.base import compile_pipeline

        df = text_df_factory(["a=1", "zz"])
        cfg = {"Type": "processor_grok", "Match": [r"%{WORD:k}=%{INT:v}"],
               "ErrorClassKey": "ec"}

        def plan(entry):
            out = compile_pipeline([entry])(df)
            return out._jdf.queryExecution().executedPlan().toString(), out

        timed, timed_df = plan({**cfg, "TimeoutMilliSeconds": 50})
        plain, plain_df = plan(cfg)
        assert "ArrowEvalPython" in timed
        assert "EvalPython" not in plain
        assert rows_as_dicts(timed_df) == rows_as_dicts(plain_df)
        with pytest.raises(TypeError):
            compile_pipeline([{**cfg, "Engine": "python"}])


class TestSplits:
    def test_split_char(self, text_df_factory):
        df = text_df_factory(["a,b,c,d"])
        proc = SplitChar(
            SourceKey="content", SplitSep=",", SplitKeys=["x", "y"],
            PreserveOthers=True,
        )
        rows = rows_as_dicts(proc(df))
        assert rows[0]["x"] == "a" and rows[0]["y"] == "b"
        assert rows[0]["_split_preserve_"] == "c,d"

    def test_split_log_string_explode(self, text_df_factory):
        df = text_df_factory(["line1\nline2\nline3"])
        proc = SplitLogString(SourceKey="content", SplitSep="\n")
        rows = rows_as_dicts(proc(df), order_by=("idx", "part_idx"))
        assert [r["content"] for r in rows] == ["line1", "line2", "line3"]
        assert [r["part_idx"] for r in rows] == [0, 1, 2]

    def test_split_log_regex_multiline(self, text_df_factory):
        blob = "2024-01-01 start\n  cont1\n  cont2\n2024-01-02 next\n  cont3"
        df = text_df_factory([blob])
        proc = SplitLogRegex(SourceKey="content", SplitRegex=r"\d{4}-\d{2}-\d{2}")
        rows = rows_as_dicts(proc(df), order_by=("idx", "part_idx"))
        assert len(rows) == 2
        assert rows[0]["content"] == "2024-01-01 start\n  cont1\n  cont2"
        assert rows[1]["content"] == "2024-01-02 next\n  cont3"

    def test_merge_multiline(self, spark):
        rows = [
            ("f1", 0, "2024-01-01 start"),
            ("f1", 1, "  continuation"),
            ("f1", 2, "2024-01-02 second"),
            ("f2", 0, "2024-03-03 other"),
        ]
        df = spark.createDataFrame(rows, "src string, off int, content string")
        proc = MergeMultilineLog(
            SourceKey="content",
            StartPattern=r"\d{4}-\d{2}-\d{2}",
            GroupKey="src",
            OrderKey="off",
        )
        out = rows_as_dicts(proc(df), order_by=("src", "off"))
        assert len(out) == 3
        assert out[0]["content"] == "2024-01-01 start\n  continuation"
        assert out[0]["n_merged"] == 2
        assert out[1]["content"] == "2024-01-02 second"
        assert out[2]["content"] == "2024-03-03 other"

    def test_merge_multiline_leading_unmatched_single_line(self, spark):
        """Leading unmatched rows are emitted individually, not merged
        (reference 'single_line' unmatched treatment)."""
        rows = [
            ("f1", 0, "orphan line A"),
            ("f1", 1, "orphan line B"),
            ("f1", 2, "2024-01-01 start"),
            ("f1", 3, "  cont"),
        ]
        df = spark.createDataFrame(rows, "src string, off int, content string")
        proc = MergeMultilineLog(
            SourceKey="content",
            StartPattern=r"\d{4}-\d{2}-\d{2}",
            GroupKey="src",
            OrderKey="off",
        )
        out = rows_as_dicts(proc(df), order_by=("off",))
        assert [r["content"] for r in out] == [
            "orphan line A",
            "orphan line B",
            "2024-01-01 start\n  cont",
        ]
        # the leading rows' event ids must not come from the OrderKey
        # value: a string key (no numeric cast) and negative keys both
        # still give one event per leading row, as the reference does
        from loongcollector_spark.operators.splits import _merge_rows_python

        texts = ["x1", "x2", "S1", "y"]
        for keys, ddl in (
            (["a", "b", "c", "d"], "src string, off string, content string"),
            ([-3, -2, 0, 1], "src string, off int, content string"),
        ):
            df = spark.createDataFrame(
                [("f1", k, t) for k, t in zip(keys, texts)], ddl
            )
            got = sorted(
                (r.off, r.content, r.n_merged)
                for r in MergeMultilineLog(
                    SourceKey="content", StartPattern="S",
                    GroupKey="src", OrderKey="off",
                )(df).collect()
            )
            want = _merge_rows_python(
                [(k, t, t.startswith("S"), False, False)
                 for k, t in zip(keys, texts)],
                True, False, False, True,
            )
            assert got == sorted((o, t, n) for t, o, n in want), keys
            assert len(got) == 3

    def test_merge_multiline_discard_unmatched(self, spark):
        rows = [
            ("f1", 0, "orphan"),
            ("f1", 1, "2024-01-01 start"),
        ]
        df = spark.createDataFrame(rows, "src string, off int, content string")
        proc = MergeMultilineLog(
            SourceKey="content",
            StartPattern=r"\d{4}-\d{2}-\d{2}",
            GroupKey="src",
            OrderKey="off",
            UnmatchedContentTreatment="discard",
        )
        out = rows_as_dicts(proc(df), order_by=("off",))
        assert [r["content"] for r in out] == ["2024-01-01 start"]


# Reference fixture constants
# (core/unittest/processor/ProcessorMergeMultilineLogNativeUnittest.cpp:26-32)
_B = "Exception in thread 'main' java.lang.NullPointerException"
_C = "    at com.example.myproject.Book.getTitle(Book.java:16)"
_E = "    ...23 more"
_U = "unmatch log"
_B_RX = r"Exception.*"
_C_RX = r"\s+at\s.*"
_E_RX = r"\s*\.\.\.\d+ more"


class TestMergeMultilineMatrix:
    """Start×Continue×End combinations, ported from
    ProcessorMergeMultilineLog{DisacardUnmatch,KeepUnmatch}Unittest
    (TestLogSplitWithBeginContinue/BeginEnd/ContinueEnd/End)."""

    def _run(self, spark, lines, expect, *, start=None, cont=None, end=None,
             unmatched="single_line"):
        df = spark.createDataFrame(
            [("f1", i, ln) for i, ln in enumerate(lines)],
            "src string, off int, content string",
        )
        proc = MergeMultilineLog(
            SourceKey="content",
            GroupKey="src",
            OrderKey="off",
            StartPattern=start,
            ContinuePattern=cont,
            EndPattern=end,
            UnmatchedContentTreatment=unmatched,
        )
        out = rows_as_dicts(proc(df), order_by=("off",))
        assert [r["content"] for r in out] == expect, (lines, unmatched)

    # --- Begin + Continue -------------------------------------------------
    def test_begin_continue_discard(self, spark):
        cases = [
            ([_U, _U], []),
            ([_B, _U], [_B]),
            ([_U, _B, _C, _C, _U], [f"{_B}\n{_C}\n{_C}"]),
            ([_B, _C, _C], [f"{_B}\n{_C}\n{_C}"]),  # EOF partial, no End
            ([_B, _C, _B], [f"{_B}\n{_C}", _B]),  # start restarts the run
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, start=_B_RX, cont=_C_RX,
                      unmatched="discard")

    def test_begin_continue_keep(self, spark):
        cases = [
            ([_U, _U], [_U, _U]),
            ([_B, _U], [_B, _U]),
            ([_U, _B, _C, _C, _U], [_U, f"{_B}\n{_C}\n{_C}", _U]),
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, start=_B_RX, cont=_C_RX)

    # --- Begin + End ------------------------------------------------------
    def test_begin_end_discard(self, spark):
        cases = [
            ([_U, _U], []),
            ([_U, _B, _U], []),  # dangling partial with End → unmatched
            ([_U, _B, _E, _U], [f"{_B}\n{_E}"]),
            ([_B, _B], []),  # second Begin is just a waiting line; EOF unmatched
            ([_U, _B, _U, _E, _U], [f"{_B}\n{_U}\n{_E}"]),
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, start=_B_RX, end=_E_RX,
                      unmatched="discard")

    def test_begin_end_keep(self, spark):
        cases = [
            ([_U, _B, _U], [_U, _B, _U]),
            ([_U, _B, _U, _E, _U], [_U, f"{_B}\n{_U}\n{_E}", _U]),
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, start=_B_RX, end=_E_RX)

    # --- Continue + End ---------------------------------------------------
    def test_continue_end_discard(self, spark):
        cases = [
            ([_C, _C, _E], [f"{_C}\n{_C}\n{_E}"]),
            ([_E], [_E]),  # lone End outside a partial = complete event
            ([_C, _C, _U], []),  # broken run → whole span unmatched
            ([_U, _C, _E, _E], [f"{_C}\n{_E}", _E]),
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, cont=_C_RX, end=_E_RX,
                      unmatched="discard")

    def test_continue_end_keep(self, spark):
        cases = [
            ([_C, _C, _U], [_C, _C, _U]),
            ([_U, _C, _E], [_U, f"{_C}\n{_E}"]),
        ]
        for lines, expect in cases:
            self._run(spark, lines, expect, cont=_C_RX, end=_E_RX)

    # --- End only ---------------------------------------------------------
    def test_end_only(self, spark):
        self._run(spark, [_U, _U, _E, _U], [f"{_U}\n{_U}\n{_E}", _U],
                  end=_E_RX)
        self._run(spark, [_U, _U, _E, _U], [f"{_U}\n{_U}\n{_E}"],
                  end=_E_RX, unmatched="discard")
        self._run(spark, [_E, _E], [_E, _E], end=_E_RX)

    # --- config validation ------------------------------------------------
    def test_continue_only_invalid(self):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            MergeMultilineLog(
                SourceKey="content", GroupKey="g", OrderKey="o",
                ContinuePattern=_C_RX,
            )

    def test_groups_isolated(self, spark):
        """FSM state never leaks across GroupKey values."""
        rows = [
            ("f1", 0, _B), ("f1", 1, _C),
            ("f2", 0, _C), ("f2", 1, _E),
        ]
        df = spark.createDataFrame(rows, "src string, off int, content string")
        proc = MergeMultilineLog(
            SourceKey="content", GroupKey="src", OrderKey="off",
            StartPattern=_B_RX, ContinuePattern=_C_RX, EndPattern=_E_RX,
        )
        out = rows_as_dicts(proc(df), order_by=("src", "off"))
        assert [(r["src"], r["content"]) for r in out] == [
            ("f1", _B), ("f1", _C),  # dangling f1 partial w/ End → unmatched
            # with StartPattern set, the non-partial state consults Start
            # only — f2's Continue/End lines are unmatched singles
            ("f2", _C), ("f2", _E),
        ]


class TestMultilineEngineParity:
    """The production vectorized multiline engine (_merge_block_vectorized:
    boolean-scan state, cumsum event ids) must agree with the reference
    per-row FSM transcription (_merge_rows_python) on every pattern mode
    x treatment x random flag sequence — including dangling partials,
    same-line start+end toggles, and None texts."""

    MODES = [
        (True, False, False),   # start only
        (True, True, False),    # start+continue
        (True, False, True),    # start+end
        (False, True, True),    # continue+end
        (False, False, True),   # end only
        (True, True, True),     # start+continue+end
    ]

    def test_differential_random(self):
        import random

        import numpy as np
        import pandas as pd

        from loongcollector_spark.operators.splits import (
            _merge_block_vectorized,
            _merge_rows_python,
        )

        rng = random.Random(20260816)
        for trial in range(300):
            n = rng.randrange(0, 40)
            s = [rng.random() < 0.3 for _ in range(n)]
            c = [rng.random() < 0.4 for _ in range(n)]
            e = [rng.random() < 0.3 for _ in range(n)]
            texts = [
                None if rng.random() < 0.1 else f"l{i}" for i in range(n)
            ]
            orders = list(range(n))
            for has_s, has_c, has_e in self.MODES:
                for single_line in (True, False):
                    ref = _merge_rows_python(
                        list(zip(orders, texts, s, c, e)),
                        has_s, has_c, has_e, single_line,
                    )
                    _, t2, o2, n2 = _merge_block_vectorized(
                        np.zeros(n, dtype=np.int64),
                        np.asarray(orders, dtype=np.int64),
                        pd.Series(texts, dtype=object),
                        np.asarray(s), np.asarray(c), np.asarray(e),
                        has_s, has_c, has_e, single_line,
                    )
                    got = sorted(
                        zip(t2, o2, n2),
                        key=lambda r: (r[1], str(r[0])),
                    )
                    want = sorted(ref, key=lambda r: (r[1], str(r[0])))
                    assert [
                        (t, int(o), int(m)) for t, o, m in got
                    ] == [
                        (t, int(o), int(m)) for t, o, m in want
                    ], (trial, has_s, has_c, has_e, single_line)

    def test_block_of_groups_resets_per_group(self):
        """One block holding several groups (what a sorted partition
        hands the engine) must equal the reference run per group: the
        scan resets to each mode's initial state at every group
        boundary, including only-End, whose initial state is open."""
        import random

        import numpy as np
        import pandas as pd

        from loongcollector_spark.operators.splits import (
            _merge_block_vectorized,
            _merge_rows_python,
        )

        rng = random.Random(20261017)
        for trial in range(150):
            sizes = [rng.randrange(1, 12) for _ in range(rng.randrange(1, 6))]
            g = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
            n = len(g)
            s = np.array([rng.random() < 0.3 for _ in range(n)])
            c = np.array([rng.random() < 0.4 for _ in range(n)])
            e = np.array([rng.random() < 0.3 for _ in range(n)])
            texts = [None if rng.random() < 0.1 else f"l{i}" for i in range(n)]
            orders = np.concatenate([np.arange(k) for k in sizes])
            for has_s, has_c, has_e in self.MODES:
                for single_line in (True, False):
                    want = []
                    for gi in range(len(sizes)):
                        idx = np.flatnonzero(g == gi)
                        want += [
                            (gi, t, int(o), int(m))
                            for t, o, m in _merge_rows_python(
                                [(int(orders[i]), texts[i], s[i], c[i], e[i])
                                 for i in idx],
                                has_s, has_c, has_e, single_line,
                            )
                        ]
                    got = [
                        (int(gg), t, int(o), int(m))
                        for gg, t, o, m in zip(*_merge_block_vectorized(
                            g, orders, pd.Series(texts, dtype=object),
                            s, c, e, has_s, has_c, has_e, single_line,
                        ))
                    ]
                    key = lambda r: (r[0], r[2], str(r[1]))  # noqa: E731
                    assert sorted(got, key=key) == sorted(want, key=key), (
                        trial, has_s, has_c, has_e, single_line,
                    )

    def test_group_split_across_arrow_batches(self, spark):
        """With tiny Arrow batches, one group's lines span many
        mapInPandas batches — the carry logic must reassemble them
        before merging (results identical to the reference FSM)."""
        import numpy as np
        import pandas as pd

        from loongcollector_spark.operators.splits import (
            MergeMultilineLog,
            _merge_rows_python,
        )

        rows = []
        for gi in range(5):
            for i in range(23):
                txt = "{open" if i % 7 == 0 else ("mid|" if i % 7 == 3 else "mid")
                rows.append((f"g{gi}", i, txt))
        df = spark.createDataFrame(rows, "src string, off int, content string")
        proc = MergeMultilineLog(
            SourceKey="content", GroupKey="src", OrderKey="off",
            StartPattern=r"^\{", EndPattern=r"\|",
        )
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            got = sorted(
                (r.src, r.content, r.off, r.n_merged)
                for r in proc(df).collect()
            )
        finally:
            if old is None:
                spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
            else:
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        want = []
        for gi in range(5):
            grp = [(o, t, bool(t.startswith("{")), False, "|" in t)
                   for (g, o, t) in rows if g == f"g{gi}"]
            for t, o, n in _merge_rows_python(grp, True, False, True, True):
                want.append((f"g{gi}", t, o, n))
        assert got == sorted(want)


class TestGrokFullLibrary:
    """The full 78-entry standard pattern set
    (processor_grok_default_patterns.go parity, re-derived for Python
    re): every entry compiles, composites extract correctly, and the
    JVM and deadline paths agree on COMBINEDAPACHELOG."""

    def test_all_patterns_compile_and_names_match_reference_set(self):
        import re as _re

        from loongcollector_spark.operators.grok import (
            DEFAULT_PATTERNS,
            denormalize_pattern,
        )

        assert len(DEFAULT_PATTERNS) == 78
        for name in DEFAULT_PATTERNS:
            rx, _ = denormalize_pattern("%{" + name + "}", DEFAULT_PATTERNS)
            _re.compile(rx)

    def test_syslogbase_nested_aliases(self):
        import re as _re

        from loongcollector_spark.operators.grok import (
            DEFAULT_PATTERNS,
            denormalize_pattern,
        )

        rx, aliases = denormalize_pattern(
            "%{SYSLOGBASE} %{GREEDYDATA:msg}", DEFAULT_PATTERNS
        )
        m = _re.match(rx, "Oct 11 22:14:15 myhost sshd[1234]: Failed password")
        got = dict(zip(aliases, m.groups()))
        assert got["timestamp"] == "Oct 11 22:14:15"
        assert got["logsource"] == "myhost"
        assert got["program"] == "sshd" and got["pid"] == "1234"
        assert got["msg"] == "Failed password"

    def test_apache_combined_both_engines_agree(self, spark):
        from loongcollector_spark.operators.grok import Grok

        lines = [
            '1.2.3.4 - alice [10/Oct/2000:13:55:36 -0700] '
            '"GET /x?q=1 HTTP/1.1" 200 1234 "http://r/" "UA/1"',
            '10.0.0.9 - - [01/Jan/2024:00:00:01 +0000] '
            '"POST /api HTTP/1.0" 500 - "-" "curl/8"',
            "not an apache line",
            None,
        ]
        df = spark.createDataFrame([(i, l) for i, l in enumerate(lines)],
                                   "idx int, content string")
        cols = ["idx", "clientip", "auth", "verb", "request", "response",
                "bytes", "referrer", "agent"]
        outs = {}
        for engine, path in GROK_PATHS.items():
            g = Grok(Match=["%{COMBINEDAPACHELOG}"], **path,
                     IgnoreParseFailure=True)
            outs[engine] = sorted(
                tuple(r[c] for c in cols)
                for r in g(df).select(*cols).collect()
            )
        assert outs["jvm"] == outs["deadline"]
        byidx = {r[0]: r for r in outs["jvm"]}
        assert byidx[0][1] == "1.2.3.4" and byidx[0][5] == "200"
        # '-' bytes: the alternative matched, the bytes group did not
        # participate → '' (both paths normalize to empty string)
        assert byidx[1][3] == "POST" and byidx[1][6] == ""
        assert byidx[2][1] is None and byidx[3][1] is None


class TestSplitCharParity:
    """split_char.go:70-191 semantics: trailing-empty key unset, raw
    remainder preserve, quote FSM with doubled-quote escape, source
    NULLed on success / kept on quote-parse failure."""

    def test_trailing_empty_key_unset(self, spark):
        from loongcollector_spark.operators.splits import SplitChar

        df = spark.createDataFrame(
            [(0, "a:"), (1, "a::b"), (2, "a")],
            "i int, content string",
        )
        out = SplitChar(SourceKey="content", SplitSep=":",
                        SplitKeys=["x", "y"])(df)
        rows = {r.i: r for r in out.collect()}
        assert rows[0].x == "a" and rows[0].y is None  # trailing empty
        assert rows[1].x == "a" and rows[1].y == ""    # interior empty
        assert rows[2].x == "a" and rows[2].y is None  # no separator
        # source NULLed on success (KeepSource default false)
        assert rows[0].content is None

    def test_preserve_not_emitted_for_final_sep(self, spark):
        from loongcollector_spark.operators.splits import SplitChar

        df = spark.createDataFrame(
            [(0, "a:b:rest:more"), (1, "a:b:")], "i int, content string"
        )
        out = SplitChar(SourceKey="content", SplitSep=":",
                        SplitKeys=["x", "y"], PreserveOthers=True)(df)
        rows = {r.i: r for r in out.collect()}
        assert rows[0]._split_preserve_ == "rest:more"
        assert rows[1]._split_preserve_ is None  # go:141 i == len-1

    def test_quote_fsm(self, spark):
        from loongcollector_spark.operators.splits import SplitChar

        df = spark.createDataFrame(
            [
                (0, '"a,with,comma",plain,rest'),
                (1, '"esc""aped",x'),
                (2, '"broken"mid,x'),
                (3, "no,quotes"),
            ],
            "i int, content string",
        )
        out = SplitChar(
            SourceKey="content", SplitSep=",", SplitKeys=["x", "y"],
            QuoteFlag=True, Quote='"', PreserveOthers=True,
        )(df)
        rows = {r.i: r for r in out.collect()}
        assert rows[0].x == "a,with,comma" and rows[0].y == "plain"
        assert rows[0]._split_preserve_ == "rest"
        assert rows[1].x == 'esc"aped' and rows[1].y == "x"
        # malformed quote → parse failure: keys unset, source kept
        # (KeepSourceIfParseError default true)
        assert rows[2].x is None and rows[2].content == '"broken"mid,x'
        assert rows[3].x == "no" and rows[3].y == "quotes"
        assert rows[3].content is None

    def test_quote_unterminated_go_key_skip(self, spark):
        # Go's for post-increment fires on the unterminated-quote exit:
        # the raw rest (from the pre-quote offset) lands on the NEXT key
        from loongcollector_spark.operators.splits import SplitChar

        df = spark.createDataFrame(
            [(0, 'a,"unclosed rest')], "i int, content string"
        )
        out = SplitChar(
            SourceKey="content", SplitSep=",", SplitKeys=["x", "y", "z"],
            QuoteFlag=True, Quote='"', PreserveOthers=True,
        )(df)
        r = out.collect()[0]
        assert r.x == "a"
        assert r.y is None  # the key consumed by the unterminated quote
        assert r.z == '"unclosed rest'  # raw rest → next key


class TestGrokWideTrailingNewline:
    def test_trailing_terminator_falls_back(self, spark):
        """'$' matches BEFORE a final line terminator: the wide
        replace+split path must not leak the '\\n' into the last alias
        (code-review r3 finding, verified divergence)."""
        df = spark.createDataFrame(
            [(0, "alpha beta"), (1, "alpha beta\n"), (2, "a b\r\n")],
            "i int, content string",
        )
        g = Grok(
            SourceKey="content",
            Match=[r"%{WORD:a} %{WORD:b}"],
            IgnoreParseFailure=True,
        )
        rows = {r.i: r for r in g(df).collect()}
        assert rows[0].b == "beta"
        assert rows[1].b == "beta"  # not 'beta\n'
        assert rows[2].b == "b"
