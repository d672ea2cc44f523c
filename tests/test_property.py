"""Property-based tests (hypothesis): the pipeline must be TOTAL — any
byte soup in `text` flows through parse → enrich → route without throwing,
lands in exactly the right sinks, and never corrupts other rows. This is
the log-pipeline contract: malformed input is data, not an error."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from loongcollector_spark.plans.transcript_pipeline import TranscriptPipeline

TEXTS = st.lists(
    st.one_of(
        st.text(max_size=60),
        st.text(alphabet="u0123456789\t{}|[]&=:k.eror", max_size=40),
        st.just(""),
        st.none(),
    ),
    min_size=1,
    max_size=50,
)


def _df(spark, texts):
    rows = [
        (f"conv{i % 3}", i, "user", t, "search", "2024-01-01 00:00:00")
        for i, t in enumerate(texts)
    ]
    return (
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts_s string",
        )
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )


class TestParseTotality:
    @settings(max_examples=5, deadline=None)
    @given(texts=TEXTS)
    def test_parse_never_throws_and_classifies_every_row(self, spark, texts):
        pipe = TranscriptPipeline()
        out = pipe.enrich(pipe.parse(_df(spark, texts))).collect()
        assert len(out) == len(texts)
        for r in out:
            assert r["grammar"] in {
                "regex", "json", "delim", "apsara", "kv", "unparsed"
            }
            assert r["error_class"] is not None  # always classified

    @settings(max_examples=5, deadline=None)
    @given(texts=TEXTS)
    def test_multicast_partition_of_rows(self, spark, texts):
        """Every row lands in sink_all exactly once; conditional sinks are
        subsets; per-turn text equality is preserved."""
        pipe = TranscriptPipeline()
        df = _df(spark, texts)
        routed = pipe.run_single_pass(df)
        all_rows = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in pipe.router.sink(routed, "sink_all").collect()
        }
        assert len(all_rows) == len(texts)
        orig = {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}
        assert all_rows == orig  # text equality under the key
        for name in ("sink_model", "sink_errors"):
            for r in pipe.router.sink(routed, name).collect():
                assert (r["conv_id"], r["turn_idx"]) in all_rows


class TestGrokEngineParity:
    """The grok JVM path (regexp_extract) and the per-log deadline path
    (the ``regex`` module) must agree row-for-row on the common
    regex-dialect subset the compiled pattern library uses — fuzzed over
    byte soup near the grammar."""

    GROK_TEXTS = st.lists(
        st.one_of(
            st.text(alphabet="abc =|.:/0123456789\t", max_size=40),
            st.from_regex(r"[a-z]+=[0-9]+", fullmatch=True),
            st.from_regex(r"[a-z]+ [0-9]+( [0-9.]+)?", fullmatch=True),
            st.from_regex(r"10\.0\.[0-9]{1,3}\.[0-9]{1,3} GET /[a-z]*", fullmatch=True),
            st.just(""),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )

    @settings(max_examples=15, deadline=None)
    @given(texts=GROK_TEXTS)
    def test_jvm_python_same_rows_and_fields(self, spark, texts):
        from loongcollector_spark.operators.grok import Grok

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "idx int, content string"
        )
        kw = dict(
            SourceKey="content",
            Match=[
                r"%{WORD:k}=%{INT:v}",
                r"%{IPV4:ip} %{WORD:verb} %{URIPATH:path}",
                r"%{WORD:w} %{INT:n}(?: %{NUMBER:f})?",
            ],
            ErrorClassKey="ec",
        )
        cols = ("idx", "k", "v", "ip", "verb", "path", "w", "n", "f", "ec")
        jvm = sorted(
            tuple(r[c] for c in cols)
            for r in Grok(**kw)(df).collect()
        )
        py = sorted(
            tuple(r[c] for c in cols)
            for r in Grok(TimeoutMilliSeconds=60_000, **kw)(df).collect()
        )
        assert jvm == py


def _kv_reference(content, delim="&", sep="=", empty_prefix="empty_key_",
                  nosep_prefix="no_separator_key_", discard_no_sep=False):
    """Pure-Python transcription of key_value_splitter.go:99-143 (no
    quote handling), LAST_WIN on duplicate keys."""
    out = {}
    empty_i = nosep_i = 0
    for pair in content.split(delim):
        pos = pair.find(sep)
        if pos == -1:
            if not discard_no_sep:
                out[f"{nosep_prefix}{nosep_i}"] = pair
                nosep_i += 1
        else:
            key = pair[:pos]
            val = pair[pos + len(sep):]
            if key == "":
                key = f"{empty_prefix}{empty_i}"
                empty_i += 1
            out[key] = val
    return out


class TestSplitKeyValueParity:
    """Fuzz the higher-order-function SplitKeyValue against a direct
    transcription of the reference's splitter loop."""

    CONTENT = st.text(alphabet="abk=&123 _", min_size=0, max_size=50)

    @settings(max_examples=25, deadline=None)
    @given(content=CONTENT, discard=st.booleans())
    def test_matches_reference_loop(self, spark, content, discard):
        from loongcollector_spark.operators.parsers import SplitKeyValue

        df = spark.createDataFrame([(content,)], "content string")
        proc = SplitKeyValue(
            SourceKey="content", Delimiter="&", Separator="=",
            DiscardWhenSeparatorNotFound=discard,
        )
        got = proc(df).collect()[0]["kv"]
        want = _kv_reference(content, discard_no_sep=discard)
        assert dict(got) == want, (content, discard)


class TestMultilineFsmParity:
    """Hypothesis fuzz: the vectorized boolean-scan multiline engine must
    equal the reference per-row FSM on arbitrary flag sequences for every
    pattern mode and both unmatched treatments. Pure Python — no Spark.
    Complements the 300-seed random differential in test_grok_splits."""

    FLAGS = st.lists(
        st.tuples(st.booleans(), st.booleans(), st.booleans(),
                  st.booleans()),  # (s, c, e, text-is-None)
        min_size=0, max_size=60,
    )
    MODES = st.sampled_from([
        (True, False, False), (True, True, False), (True, False, True),
        (False, True, True), (False, False, True), (True, True, True),
    ])

    @given(flags=FLAGS, mode=MODES, single_line=st.booleans())
    @settings(max_examples=400, deadline=None)
    def test_engines_agree(self, flags, mode, single_line):
        import numpy as np
        import pandas as pd

        from loongcollector_spark.operators.splits import (
            _merge_block_vectorized,
            _merge_rows_python,
        )

        has_s, has_c, has_e = mode
        n = len(flags)
        s = np.array([f[0] for f in flags], dtype=bool)
        c = np.array([f[1] for f in flags], dtype=bool)
        e = np.array([f[2] for f in flags], dtype=bool)
        texts = [None if f[3] else f"t{i}" for i, f in enumerate(flags)]
        o = np.arange(n, dtype=np.int64)
        ref = _merge_rows_python(
            list(zip(o.tolist(), texts, s, c, e)),
            has_s, has_c, has_e, single_line,
        )
        _, t2, o2, n2 = _merge_block_vectorized(
            np.zeros(n, dtype=np.int64), o, pd.Series(texts, dtype=object),
            s, c, e,
            has_s, has_c, has_e, single_line,
        )
        got = sorted(
            ((t, int(oo), int(m)) for t, oo, m in zip(t2, o2, n2)),
            key=lambda r: (r[1], str(r[0])),
        )
        want = sorted(
            ((t, int(oo), int(m)) for t, oo, m in ref),
            key=lambda r: (r[1], str(r[0])),
        )
        assert got == want


class TestSplitCharPlainParity:
    """SplitChar's vectorized plain path vs a direct test-side
    transcription of the Go non-quote loop (split_char.go:133-157):
    trailing-empty keys unset, interior empties kept, preserve rules.
    One Spark job over an exhaustive-ish seeded case batch."""

    @staticmethod
    def _go_split(value, sep, keys, preserve):
        out, pres = {}, None
        key_idx, last = 0, 0
        n = len(value)
        for i in range(n):
            if value[i] == sep:
                out[keys[key_idx]] = value[last:i]
                key_idx += 1
                last = i + 1
                if key_idx >= len(keys):
                    if i != n - 1 and preserve:
                        pres = value[i + 1:]
                    break
        if key_idx < len(keys) and last < n:
            out[keys[key_idx]] = value[last:]
        return out, pres

    def test_matches_go_loop_batch(self, spark):
        import itertools
        import random

        from loongcollector_spark.operators.splits import SplitChar

        rng = random.Random(42)
        cases = ["", ":", "::", "a", "a:", ":a", "a:b", "a:b:", "a::b",
                 "a:b:c:d", "::a::", "abc"]
        cases += ["".join(rng.choice("ab:") for _ in range(rng.randrange(1, 15)))
                  for _ in range(150)]
        cases = sorted(set(cases))
        for nkeys, preserve in itertools.product((1, 2, 3), (True, False)):
            keys = [f"k{i}" for i in range(nkeys)]
            df = spark.createDataFrame(
                [(i, v) for i, v in enumerate(cases)], "i int, content string"
            )
            op = SplitChar(SourceKey="content", SplitSep=":",
                           SplitKeys=keys, PreserveOthers=preserve)
            rows = {r.i: r for r in op(df).collect()}
            for i, v in enumerate(cases):
                want, want_pres = self._go_split(v, ":", keys, preserve)
                for k in keys:
                    assert rows[i][k] == want.get(k), (v, k, rows[i][k], want)
                if preserve:
                    assert rows[i]["_split_preserve_"] == want_pres, (
                        v, rows[i]["_split_preserve_"], want_pres)


class TestSplitCharQuoteParity:
    """Production _split_char_quoted vs an INDEPENDENT second
    transcription of the Go QuoteFlag branch (split_char.go:81-146),
    written here directly in the C-style index walk — catches
    transcription slips (the for-post-increment, lastValueIndex
    bookkeeping) the production version could share with its tests."""

    @staticmethod
    def _go_quoted(value, sep, quote, keys, preserve):
        out, pres = {}, None
        key_idx = 0
        last = 0
        i = 0
        n = len(value)
        while key_idx < len(keys) and i < n:
            c = value[i]
            if c == sep:
                out[keys[key_idx]] = ""
                last = i + 1
                i += 1
            elif c == quote:
                i += 1
                buf = []
                while i < n:
                    if value[i] == quote:
                        if i == n - 1 or value[i + 1] == sep:
                            i += 1
                            out[keys[key_idx]] = "".join(buf)
                            last = i + 1
                            i += 1
                            break
                        if value[i + 1] == quote:
                            i += 1
                            buf.append(value[i])
                            i += 1
                        else:
                            return None  # parse failure
                    else:
                        buf.append(value[i])
                        i += 1
            else:
                nxt = value.find(sep, i)
                if nxt >= 0:
                    out[keys[key_idx]] = value[i:nxt]
                    last = nxt + 1
                    i = last
                else:
                    break  # break FORLOOP skips the post-increment
                key_idx += 1
                continue
            key_idx += 1
        if key_idx >= len(keys) and last < n:
            if preserve:
                pres = value[last:]
                last = n
        if key_idx < len(keys) and last < n:
            out[keys[key_idx]] = value[last:]
        return out, pres

    def test_differential_random(self):
        import random

        from loongcollector_spark.operators.splits import _split_char_quoted

        rng = random.Random(99)
        cases = ['"a,b",c', '"x""y",z', '"broken"x,y', 'a,"unclosed',
                 '""', '"",a', 'a,,b', '"a"', ',', '']
        cases += ["".join(rng.choice('ab,"') for _ in range(rng.randrange(0, 16)))
                  for _ in range(400)]
        for v in sorted(set(cases)):
            for nk in (1, 2, 3):
                for preserve in (True, False):
                    keys = [f"k{i}" for i in range(nk)]
                    got = _split_char_quoted(v, ",", '"', keys, preserve)
                    want = self._go_quoted(v, ",", '"', keys, preserve)
                    if want is None:
                        assert got[2] is False, (v, nk, got)
                    else:
                        assert got[2] is True, (v, nk)
                        assert (got[0], got[1]) == want, (v, nk, preserve, got, want)


class TestChunkerProperties:
    """token_window_chunks: every token is covered, consecutive chunks
    overlap by exactly `overlap` (when both are full-length), and
    re-joining chunk 0..last at stride offsets reconstructs the token
    stream — for ANY text and any (chunk_size, overlap)."""

    @given(
        texts=st.lists(st.text(max_size=80), min_size=1, max_size=12),
        chunk_size=st.integers(min_value=2, max_value=16),
        overlap_frac=st.integers(min_value=0, max_value=99),
    )
    @settings(max_examples=15, deadline=None)
    def test_coverage_and_reconstruction(
        self, spark, texts, chunk_size, overlap_frac
    ):
        import re

        from loongcollector_spark.functions.packing import (
            token_window_chunks,
        )

        overlap = (chunk_size - 1) * overlap_frac // 100
        stride = chunk_size - overlap
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        out = token_window_chunks(
            df, chunk_size=chunk_size, overlap=overlap
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for i, t in enumerate(texts):
            toks = re.findall(r"[a-z0-9]+", t.lower())
            chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
            if not toks:
                assert chunks == []
                continue
            # chunk starts are exactly the stride multiples below len
            assert [c["start_tok"] for c in chunks] == list(
                range(0, len(toks), stride)
            )
            # every chunk's text is the exact token slice
            for c in chunks:
                want = toks[c["start_tok"]:c["start_tok"] + chunk_size]
                assert c["chunk_text"].split(" ") == want or (
                    c["chunk_text"] == "" and want == []
                )
                assert c["n_tokens"] == len(want) > 0
            # coverage: the union of chunk ranges is [0, len)
            covered = set()
            for c in chunks:
                covered.update(
                    range(c["start_tok"], c["start_tok"] + c["n_tokens"])
                )
            assert covered == set(range(len(toks)))


class TestXorFingerprintProperties:
    """conversation_fingerprint_xor agrees with the serialize variant's
    dedup verdicts on ANY corpus whose turns are unique per conversation
    (the documented precondition)."""

    @given(
        n_convs=st.integers(min_value=1, max_value=4),
        texts=st.lists(
            st.text(alphabet="abc \t", max_size=12), min_size=1, max_size=8
        ),
        data=st.data(),
    )
    @settings(max_examples=10, deadline=None)
    def test_dedup_verdicts_match_serialize(self, spark, n_convs, texts, data):
        from loongcollector_spark.functions import convstats

        rows = []
        for c in range(n_convs):
            # some conversations are exact copies of conversation 0
            copy_of = data.draw(st.booleans()) if c else False
            src = 0 if copy_of else c
            for i, t in enumerate(texts):
                rows.append(
                    (
                        f"c{c}",
                        i,
                        "user",
                        f"{t}-{src}" if not copy_of else f"{t}-0",
                        "none",
                        "2024-01-01 00:00:00",
                    )
                )
        df = (
            spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts_s string",
            )
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
        )
        ser = {
            r["conv_id"]: (r["n_copies"], r["keep"])
            for r in convstats.conversation_fingerprint(df).collect()
        }
        xor = {
            r["conv_id"]: (r["n_copies"], r["keep"])
            for r in convstats.conversation_fingerprint_xor(df).collect()
        }
        assert ser == xor
