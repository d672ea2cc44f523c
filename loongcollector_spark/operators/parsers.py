"""Parser processors: scan → project operators (SURVEY.md §2.1).

Each parser re-expresses a reference processor as a declarative DataFrame
transform. Default path is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd); a pandas-UDF (Arrow-vectorized) path exists where
the reference semantics can't be matched by built-ins (the Go regex
plugin's non-participating-group law, exact JSON value stringification,
quote-aware delimiter FSM). ``processor_parse_regex_native`` runs on the
JVM regex alone.
No per-row Python anywhere.

Reference parity targets:
* processor_parse_regex_native  — core/plugin/processor/ProcessorParseRegexNative.cpp:29-257
* processor_parse_json_native   — core/plugin/processor/ProcessorParseJsonNative.cpp:107-250
* processor_parse_delimiter_native — core/plugin/processor/ProcessorParseDelimiterNative.cpp:245-424
* processor_parse_apsara_native — core/plugin/processor/ProcessorParseApsaraNative.cpp:203-340,433+
* processor_parse_timestamp_native — core/plugin/processor/ProcessorParseTimestampNative.cpp
* processor_split_key_value     — plugins/processor/split/keyvalue/key_value_splitter.go:27-44
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loongcollector_spark.operators.base import (
    ParserOptions,
    Processor,
    last_win_entries,
    register,
)


def _split_keys(keys) -> list[str]:
    """Reference compat: a single comma-joined key is split
    (ProcessorParseRegexNative.cpp:86-88)."""
    if isinstance(keys, str):
        return keys.split(",")
    if len(keys) == 1 and "," in keys[0]:
        return keys[0].split(",")
    return list(keys)


@register("processor_regex")
class ProcessorRegexGo(Processor):
    """The GO regex parser plugin (plugins/processor/regex/regex.go:32-139)
    — a distinct registered plugin from the C++
    processor_parse_regex_native twin below. Reference semantics:

    * SEARCH by default; ``FullMatch`` requires the first match to span
      the whole value (go:107)
    * capture group i → ``Keys[i]``; a NON-PARTICIPATING group emits no
      key at all (go:121-127) — distinct from a participating empty
      match, so extraction runs via Arrow ``Series.str.extract`` (NaN
      marks non-participation; a JVM ``regexp_extract`` cannot tell the
      two apart)
    * fewer capture groups than Keys → every row is a parse failure
      (go:115-120)
    * source NULLed on success unless ``KeepSource``; kept on failure
      when ``KeepSourceIfParseError`` (reference defaults)
    """

    def __init__(
        self,
        Regex: str,
        Keys: list[str],
        SourceKey: str = "content",
        FullMatch: bool = False,
        KeepSource: bool = False,
        KeepSourceIfParseError: bool = True,
        NoMatchError: bool = True,
    ) -> None:
        if not Keys:
            raise ValueError("no regex key error")
        self.regex = Regex
        self.n_groups = re.compile(Regex).groups
        # the fast path wraps the pattern in an outer capture group for
        # the hit mask; numeric backreferences (\1) would then point at
        # the still-open outer group — detect at config time and use the
        # two-pass (search + extract) path instead
        try:
            re.compile(f"({Regex})")
            self.wrappable = True
        except re.error:
            self.wrappable = False
        self.keys = list(Keys)
        self.source_key = SourceKey
        self.full_match = FullMatch
        self.keep_source = KeepSource
        self.keep_source_if_err = KeepSourceIfParseError

    def __call__(self, df: DataFrame) -> DataFrame:
        rx, keys, full = self.regex, self.keys, self.full_match
        wrappable = self.wrappable
        structurally_ok = self.n_groups >= len(keys)
        fields = [T.StructField(k, T.StringType()) for k in keys]
        fields.append(T.StructField("__ok__", T.BooleanType()))
        schema = T.StructType(fields)

        @F.pandas_udf(schema)
        def ext(s):  # noqa: ANN001
            import pandas as pd

            if not structurally_ok or len(s) == 0:
                out = pd.DataFrame({k: [None] * len(s) for k in keys})
                out["__ok__"] = [False if v is not None else None for v in s]
                return out
            pat = f"^(?:{rx})$" if full else rx
            if wrappable:
                # outer group = whole match: one regex execution gives
                # both the hit mask (group 0 participates iff matched)
                # and the per-key groups (shifted by 1; NaN =
                # non-participating)
                ext_df = s.str.extract(f"({pat})", expand=True)
                ok = ext_df.iloc[:, 0].notna()
                off = 1
            else:
                # backreference patterns: two passes (search + extract)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")
                    ok = s.str.contains(pat, regex=True, na=False)
                ext_df = s.str.extract(pat, expand=True)
                off = 0
            out = pd.DataFrame(index=s.index)
            for i, k in enumerate(keys):
                col = ext_df.iloc[:, i + off].where(ok)
                out[k] = col.where(col.notna(), None)
            out["__ok__"] = [
                None if v is None else bool(o) for v, o in zip(s, ok)
            ]
            return out

        df = df.withColumn("__rx__", ext(F.col(self.source_key)))
        for k in keys:
            df = df.withColumn(k, F.col("__rx__")[k])
        if not self.keep_source:
            ok = F.coalesce(F.col("__rx__")["__ok__"], F.lit(False))
            src = F.col(self.source_key)
            kept = (
                F.when(~ok, src) if self.keep_source_if_err else F.lit(None)
            )
            df = df.withColumn(self.source_key, kept.cast("string"))
        return df.drop("__rx__")


@register("processor_parse_regex_native")
class ParseRegexNative(Processor):
    """Regex with capture groups → named string columns.

    Full-match semantics (the reference uses boost::regex_match —
    ProcessorParseRegexNative.cpp:186-253), so the pattern is anchored and
    runs as ``rlike`` + ``F.regexp_extract`` (Java regex, codegen):
    ``\\w\\d\\s`` are ASCII classes. Whole-line fast path when
    ``Regex == '(.*)'``: the source is renamed to ``Keys[0]`` with no regex
    evaluation (reference :68,147-151; our config compiler emits a plain
    column alias — the analogue of that fast path). A regex with fewer
    capture groups than ``Keys`` fails every row, decided once at
    construction (the law ``ProcessorRegexGo`` applies, regex.go:115-120).
    """

    def __init__(self, SourceKey: str, Regex: str, Keys, **options) -> None:
        self.regex = Regex
        self.keys = _split_keys(Keys)
        try:
            self.too_few_groups = re.compile(Regex).groups < len(self.keys)
        except re.error:
            # a Java construct Python's re lacks (``(?<name>…)``,
            # ``\p{L}``): only the JVM can count its groups
            self.too_few_groups = False
        self.opts = ParserOptions(SourceKey=SourceKey, **options)

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.opts.source_key)
        if self.regex == "(.*)":
            # Whole-line fast path: pure rename, always succeeds.
            out = df.withColumn(self.keys[0], src)
            return self.opts.finalize(out, F.lit(True), [self.keys[0]])
        out = df
        if self.too_few_groups:
            for k in self.keys:
                out = out.withColumn(k, F.lit(None).cast("string"))
            return self.opts.finalize(out, F.lit(False), self.keys)
        anchored = f"^(?:{self.regex})$"
        for i, k in enumerate(self.keys):
            out = out.withColumn(k, F.regexp_extract(src, anchored, i + 1))
        return self.opts.finalize(out, src.rlike(anchored), self.keys)


def _stringify_json_value(v) -> str:
    """Exact value stringification of the reference JSON parser:
    null→'', bool→'true'/'false', int→decimal, double→std::to_string
    (6 fixed decimals), nested object/array→re-serialized JSON
    (ProcessorParseJsonNative.cpp:148-239,379-403)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


@register("processor_parse_json_native")
class ParseJsonNative(Processor):
    """Parse a top-level JSON object: one string column per member.

    Two modes:
    * ``Keys`` given + ``Engine='jvm'`` (default): ``get_json_object`` per
      key — pushdown-friendly, codegen. Numeric doubles keep their JSON
      text form (``2.5``), not the reference's ``2.500000``.
    * ``Engine='native'``: Arrow-batch pandas UDF reproducing the exact
      value-stringification semantics above; with ``Keys=None`` returns a
      ``map<string,string>`` column ``ParsedKey`` (default ``parsed``)
      holding *all* members — the schema-less shape of the reference.
    """

    def __init__(
        self,
        SourceKey: str,
        Keys=None,
        Engine: str = "jvm",
        ParsedKey: str = "parsed",
        **options,
    ) -> None:
        self.keys = _split_keys(Keys) if Keys is not None else None
        self.engine = Engine
        self.parsed_key = ParsedKey
        self.opts = ParserOptions(
            SourceKey=SourceKey, ErrorClass="json_parse_fail", **options
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.opts.source_key)
        if self.engine == "native":
            return self._call_native(df)
        # A value is parseable iff it is a JSON *object* (reference rejects
        # scalars/arrays at top level): json_object_keys is NULL otherwise.
        ok = F.json_object_keys(src).isNotNull()
        out = df
        if self.keys is not None:
            for k in self.keys:
                out = out.withColumn(
                    k, F.coalesce(F.get_json_object(src, f"$.{k}"), F.lit(""))
                )
            return self.opts.finalize(out, ok, self.keys)
        out = out.withColumn(
            self.parsed_key, F.from_json(src, T.MapType(T.StringType(), T.StringType()))
        )
        return self.opts.finalize(out, ok, [self.parsed_key])

    def _call_native(self, df: DataFrame) -> DataFrame:
        keys = self.keys

        if keys is not None:
            fields = [T.StructField("__ok__", T.BooleanType())] + [
                T.StructField(k, T.StringType()) for k in keys
            ]
        else:
            fields = [
                T.StructField("__ok__", T.BooleanType()),
                T.StructField(
                    self.parsed_key, T.MapType(T.StringType(), T.StringType())
                ),
            ]
        out_type = T.StructType(fields)
        parsed_key = self.parsed_key

        @F.pandas_udf(out_type)
        def parse(s):
            import pandas as pd

            oks, rows = [], []
            for v in s:
                try:
                    obj = json.loads(v) if v is not None else None
                except (ValueError, TypeError):
                    obj = None
                if not isinstance(obj, dict):
                    oks.append(False)
                    rows.append(None)
                else:
                    oks.append(True)
                    rows.append({k: _stringify_json_value(x) for k, x in obj.items()})
            res = pd.DataFrame(index=s.index)
            res["__ok__"] = oks
            if keys is not None:
                for k in keys:
                    res[k] = [None if r is None else r.get(k, "") for r in rows]
            else:
                res[parsed_key] = rows
            return res

        tmp = "__lc_json_struct__"
        out = df.withColumn(tmp, parse(F.col(self.opts.source_key)))
        ok = F.col(f"{tmp}.__ok__")
        new_cols = keys if keys is not None else [parsed_key]
        for k in new_cols:
            out = out.withColumn(k, F.col(f"{tmp}.{k}"))
        out = self.opts.finalize(out, ok, new_cols)
        return out.drop(tmp)


@register("processor_parse_delimiter_native")
class ParseDelimiterNative(Processor):
    """Split by a 1–4 char separator into named columns.

    Overflow/underflow parity (ProcessorParseDelimiterNative.cpp:245-424):
    * underflow (< len(Keys) fields): fail unless ``AllowingShortenedFields``
      (then missing keys are absent → NULL columns)
    * overflow, ``OverflowedFieldsTreatment='extend'``: extra field at
      absolute index i becomes column ``__column{i}__``
    * ``'keep'``: the *unsplit* rest (separator-prefixed) becomes one extra
      column ``__column{len(Keys)}__`` (SplitString early-exit, .cpp:398-402)
    * ``'discard'``: extra fields dropped; additionally keys named ``_``
      are skipped (ExtractingPartialFields)
    ``Quote`` set → quote-aware CSV FSM via an Arrow-batch pandas UDF
    (reference: core/parser/DelimiterModeFsmParser.cpp).
    """

    OVERFLOW_EXTEND_MAX = 8  # static columns emitted for 'extend' mode

    def __init__(
        self,
        SourceKey: str,
        Separator: str,
        Keys,
        Quote: str | None = None,
        AllowingShortenedFields: bool = False,
        OverflowedFieldsTreatment: str = "extend",
        **options,
    ) -> None:
        if not (1 <= len(Separator) <= 4):
            raise ValueError("Separator must be 1-4 chars")
        self.sep = Separator
        self.quote = Quote
        self.keys = _split_keys(Keys)
        self.allow_short = AllowingShortenedFields
        self.overflow = OverflowedFieldsTreatment
        self.opts = ParserOptions(
            SourceKey=SourceKey, ErrorClass="delimiter_parse_fail", **options
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.quote:
            return self._call_fsm(df)
        src = F.col(self.opts.source_key)
        nk = len(self.keys)
        arr = F.split(src, re.escape(self.sep), -1)
        n = F.size(arr)
        ok = src.isNotNull() & (F.lit(self.allow_short) | (n >= nk))

        out = df
        new_cols = []
        extract_partial = self.overflow == "discard"
        for i, k in enumerate(self.keys):
            if extract_partial and k == "_":
                continue
            out = out.withColumn(k, F.try_element_at(arr, F.lit(i + 1)))
            new_cols.append(k)

        if self.overflow == "extend":
            for j in range(self.OVERFLOW_EXTEND_MAX):
                i = nk + j
                col = f"__column{i}__"
                out = out.withColumn(
                    col, F.when(n > i, F.try_element_at(arr, F.lit(i + 1)))
                )
                new_cols.append(col)
        elif self.overflow == "keep":
            col = f"__column{nk}__"
            rest = F.concat(
                F.lit(self.sep),
                F.array_join(F.slice(arr, nk + 1, 1_000_000), self.sep),
            )
            out = out.withColumn(col, F.when(n > nk, rest))
            new_cols.append(col)
        # 'discard': nothing beyond Keys

        return self.opts.finalize(out, ok, new_cols)

    def _call_fsm(self, df: DataFrame) -> DataFrame:
        import csv
        import io

        keys = self.keys
        sep, quote = self.sep, self.quote
        nk = len(keys)
        overflow = self.overflow
        allow_short = self.allow_short
        extend_max = self.OVERFLOW_EXTEND_MAX
        extra_cols = (
            [f"__column{nk + j}__" for j in range(extend_max)]
            if overflow == "extend"
            else ([f"__column{nk}__"] if overflow == "keep" else [])
        )
        out_cols = [k for k in keys if not (overflow == "discard" and k == "_")]
        fields = [T.StructField("__ok__", T.BooleanType())] + [
            T.StructField(c, T.StringType()) for c in out_cols + extra_cols
        ]
        out_type = T.StructType(fields)

        @F.pandas_udf(out_type)
        def parse(s):
            import pandas as pd

            oks, rows = [], []
            for line in s:
                if line is None:
                    oks.append(False)
                    rows.append(None)
                    continue
                try:
                    vals = next(
                        csv.reader(
                            io.StringIO(line), delimiter=sep, quotechar=quote
                        )
                    )
                except (csv.Error, StopIteration):
                    vals = None
                if vals is None or (not allow_short and len(vals) < nk):
                    oks.append(False)
                    rows.append(None)
                    continue
                row = {}
                for i, k in enumerate(keys):
                    if overflow == "discard" and k == "_":
                        continue
                    row[k] = vals[i] if i < len(vals) else None
                if overflow == "extend":
                    for j in range(extend_max):
                        i = nk + j
                        row[f"__column{i}__"] = vals[i] if i < len(vals) else None
                elif overflow == "keep" and len(vals) > nk:
                    row[f"__column{nk}__"] = sep + sep.join(vals[nk:])
                oks.append(True)
                rows.append(row)
            res = pd.DataFrame(index=s.index)
            res["__ok__"] = oks
            for c in out_cols + extra_cols:
                res[c] = [None if r is None else r.get(c) for r in rows]
            return res

        tmp = "__lc_delim_struct__"
        out = df.withColumn(tmp, parse(F.col(self.opts.source_key)))
        ok = F.col(f"{tmp}.__ok__")
        for c in out_cols + extra_cols:
            out = out.withColumn(c, F.col(f"{tmp}.{c}"))
        out = self.opts.finalize(out, ok, out_cols + extra_cols)
        return out.drop(tmp)


# Fixed apsara line shape: [time]\t[LEVEL]\t[thread]\t[file:line]\t k:v pairs.
_APSARA_RX = r"^\[([^\]]+)\]\t\[([^\]]+)\]\t\[(\d+)\]\t\[([^\]]*):(\d+)\]\t?(.*)$"


@register("processor_parse_apsara_native")
class ParseApsaraNative(Processor):
    """Parse Alibaba 'apsara' format logs.

    Built-in-function path for the canonical field order
    ``[time]\\t[level]\\t[thread]\\t[file:line]\\tk1:v1\\tk2:v2`` — base
    fields → ``__LEVEL__/__THREAD__/__FILE__/__LINE__``
    (ProcessorParseApsaraNative.cpp:31-34), trailing pairs split on tab
    with the *first* ``:`` as k/v separator (.cpp:203-232) into a
    ``map<string,string>`` column ``PairsKey`` (default ``apsara_kv``),
    and ``microtime`` (epoch micros, .cpp:226-232). Time accepts epoch
    (``[1378882630]``, .cpp:259) or ``%Y-%m-%d %H:%M:%S(.%f)``.
    """

    def __init__(
        self, SourceKey: str, Timezone: str = "UTC", PairsKey: str = "apsara_kv", **options
    ) -> None:
        self.tz = Timezone
        self.pairs_key = PairsKey
        self.opts = ParserOptions(
            SourceKey=SourceKey, ErrorClass="apsara_parse_fail", **options
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.opts.source_key)
        ok = src.rlike(_APSARA_RX)
        time_str = F.regexp_extract(src, _APSARA_RX, 1)
        # the reference only tests `buffer[1] == '1'` (.cpp:259) — epoch
        # seconds start with '1' until 2033; ≥9 all-digit chars keeps the
        # same cases matching and survives the 2033 rollover.
        is_epoch = time_str.rlike(r"^\d{9,}$")
        ts = F.when(
            is_epoch, F.timestamp_seconds(time_str.cast("long"))
        ).otherwise(
            F.coalesce(
                F.to_timestamp(time_str, "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                F.to_timestamp(time_str, "yyyy-MM-dd HH:mm:ss"),
            )
        )
        micro = (F.unix_timestamp(ts) * F.lit(1_000_000)) + (
            F.date_format(ts, "SSSSSS").cast("long")
        )
        rest = F.regexp_extract(src, _APSARA_RX, 6)
        pairs = F.when(
            rest != "",
            F.map_from_entries(
                F.transform(
                    F.split(rest, "\t"),
                    lambda p: F.struct(
                        F.substring_index(p, ":", 1).alias("key"),
                        # everything after the FIRST colon (the value may
                        # itself contain colons — .cpp:220-221)
                        F.substring(
                            p, F.instr(p, ":") + F.lit(1), F.length(p)
                        ).alias("value"),
                    ),
                )
            ),
        )
        out = (
            df.withColumn("__LEVEL__", F.regexp_extract(src, _APSARA_RX, 2))
            .withColumn("__THREAD__", F.regexp_extract(src, _APSARA_RX, 3))
            .withColumn("__FILE__", F.regexp_extract(src, _APSARA_RX, 4))
            .withColumn("__LINE__", F.regexp_extract(src, _APSARA_RX, 5))
            .withColumn("microtime", micro.cast("string"))
            .withColumn(self.pairs_key, pairs)
        )
        new_cols = [
            "__LEVEL__",
            "__THREAD__",
            "__FILE__",
            "__LINE__",
            "microtime",
            self.pairs_key,
        ]
        return self.opts.finalize(out, ok, new_cols)


@register("processor_parse_timestamp_native")
class ParseTimestampNative(Processor):
    """strptime a string field into the event time column.

    ``SourceFormat`` uses strptime directives (reference:
    ProcessorParseTimestampNative.cpp:45-46); we translate the common
    subset to Spark datetime patterns. ``'%s'`` = epoch seconds.
    Output: ``DestKey`` (default ``ts``) TimestampType; unparseable rows
    keep a NULL ``DestKey`` (reference discards or keeps per history
    policy; we tag via ErrorClassKey if configured).
    """

    _MAP = [
        ("%Y", "yyyy"),
        ("%m", "MM"),
        ("%d", "dd"),
        ("%H", "HH"),
        ("%M", "mm"),
        ("%S", "ss"),
        ("%f", "SSSSSS"),
    ]

    def __init__(
        self,
        SourceKey: str,
        SourceFormat: str,
        SourceTimezone: str = "UTC",
        DestKey: str = "ts",
        ErrorClassKey: str | None = None,
    ) -> None:
        self.source_key = SourceKey
        self.fmt = SourceFormat
        self.tz = SourceTimezone
        self.dest = DestKey
        self.error_class_key = ErrorClassKey

    def spark_format(self) -> str | None:
        if self.fmt == "%s":
            return None
        out = self.fmt
        for a, b in self._MAP:
            out = out.replace(a, b)
        return out

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        fmt = self.spark_format()
        if fmt is None:
            # epoch seconds are timezone-absolute — SourceTimezone must NOT
            # shift them (it only disambiguates wall-clock formats).
            ts = F.timestamp_seconds(src.cast("long"))
        else:
            ts = F.try_to_timestamp(src, F.lit(fmt))
            if self.tz not in ("UTC", "GMT+00:00"):
                ts = F.to_utc_timestamp(ts, self.tz)
        out = df.withColumn(self.dest, ts)
        if self.error_class_key:
            out = out.withColumn(
                self.error_class_key,
                F.when(ts.isNotNull(), F.lit("")).otherwise(F.lit("time_parse_fail")),
            )
        return out


def _kv_nearest_quote(content: str, start: int, sep: str, quote: str) -> int:
    """Transcription of getNearestQuote (key_value_splitter.go:161-183),
    including its quirks — the ``" \\<quote>"`` escaped-quote probe and
    the multi-char-quote arithmetic are reproduced verbatim."""
    while start < len(content):
        if len(quote) == 1:
            lqc = content[start:].find(" \\" + quote)
            lq = content[start + 1 :].find(quote)
            start = lq + start + 1 + len(quote)
            if lqc >= 0:
                if lqc + 1 == lq:
                    continue
                if lq >= 0:
                    return start
            else:
                return start
        else:
            start += content[start + 1 :].find(quote) + len(sep + quote)
            return start
    return start


def _kv_get_value(value: str, quote: str) -> str:
    if quote and len(value) >= 2 * len(quote) and value.startswith(quote) \
            and value.endswith(quote):
        return value[len(quote) : len(value) - len(quote)]
    return value


def _kv_split_quoted(content: str, delim: str, sep: str, quote: str,
                     empty_prefix: str, nosep_prefix: str,
                     discard_no_sep: bool) -> dict[str, str]:
    """Transcription of splitKeyValue + concatQuotePair
    (key_value_splitter.go:99-159): quote-aware pair re-splitting — a
    delimiter inside a quoted value does not end the pair. Dict insertion
    order gives the reference's append-then-last-wins duplicate policy."""
    out: dict[str, str] = {}
    empty_i = nosep_i = 0
    while True:
        d = content.find(delim)
        pair = content if d == -1 else content[:d]
        # concatQuotePair (go:145-159)
        if (
            d >= 0
            and quote
            and not pair.endswith(quote)
            and (pair.find(sep + quote) > 0 or pair.startswith(quote))
        ):
            last = _kv_nearest_quote(content, d, sep, quote)
            if last >= 0:
                d = last
                pair = content[:d]
        pos = pair.find(sep)
        if pos == -1:
            if not discard_no_sep:
                out[nosep_prefix + str(nosep_i)] = _kv_get_value(pair, quote)
                nosep_i += 1
        else:
            key = pair[:pos]
            value = _kv_get_value(pair[pos + len(sep) :], quote)
            if not key:
                key = empty_prefix + str(empty_i)
                empty_i += 1
            out[key] = value
        if d == -1 or d + len(delim) > len(content):
            break
        content = content[d + len(delim) :]
    return out


@register("processor_split_key_value")
class SplitKeyValue(Processor):
    """k=v pair splitting into a map column (reference:
    plugins/processor/split/keyvalue/key_value_splitter.go:99-143; SPL
    ``parse-kv`` core/unittest/spl/spl.txt:16-19).

    Pure higher-order functions, no UDF: the source splits into pairs,
    each pair becomes a (key, value) struct via ``transform`` with index,
    and the reference's prefix policies are applied exactly —

    * separator missing → key ``{NoSeparatorKeyPrefix}{i}`` with the whole
      pair as value (or the pair is dropped when
      ``DiscardWhenSeparatorNotFound``), counter i counting only such
      pairs, in order (key_value_splitter.go:112-123);
    * empty key (pair starts with the separator) → key
      ``{EmptyKeyPrefix}{i}``, its own counter (go:125-133);
    * ``Quote`` set → the full quote-aware path runs as an Arrow-batch
      pandas UDF transcribed from the Go loop (``_kv_split_quoted``,
      go:99-183): delimiters INSIDE quoted values do not end the pair
      (concatQuotePair re-splitting), escaped-quote probing and the
      both-ends unwrap (go:185-191) included. No-quote configs stay on
      the JVM higher-order-function path below.

    The per-type running counters are ``size(filter(slice(...)))`` over
    the pairs seen so far — O(pairs²) per row on intra-row data, which is
    bounded and JVM-side. Duplicate keys resolve LAST_WIN explicitly
    (``last_win_entries`` before ``map_from_entries``), independent of the
    session ``mapKeyDedupPolicy`` — matches the reference appending then
    readers taking the last value.
    """

    def __init__(
        self,
        SourceKey: str,
        Delimiter: str = "\t",
        Separator: str = ":",
        DestKey: str = "kv",
        EmptyKeyPrefix: str = "empty_key_",
        NoSeparatorKeyPrefix: str = "no_separator_key_",
        KeepSource: bool = True,
        Quote: str = "",
        DiscardWhenSeparatorNotFound: bool = False,
    ) -> None:
        self.source_key = SourceKey
        self.delim = Delimiter
        self.sep = Separator
        self.dest = DestKey
        self.empty_prefix = EmptyKeyPrefix
        self.nosep_prefix = NoSeparatorKeyPrefix
        self.keep_source = KeepSource
        self.quote = Quote
        self.discard_no_sep = DiscardWhenSeparatorNotFound

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        if self.quote:
            delim, seps, quote = self.delim, self.sep, self.quote
            ep, np_, disc = (
                self.empty_prefix, self.nosep_prefix, self.discard_no_sep
            )

            @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
            def kv(col):  # noqa: ANN001
                import pandas as pd

                return pd.Series(
                    [
                        None
                        if v is None
                        else _kv_split_quoted(v, delim, seps, quote, ep, np_, disc)
                        for v in col
                    ]
                )

            out = df.withColumn(self.dest, kv(src))
            if not self.keep_source:
                out = out.drop(self.source_key)
            return out
        sep = F.lit(self.sep)
        sep_len = len(self.sep)
        pairs = F.split(src, re.escape(self.delim), -1)
        if self.discard_no_sep:
            pairs = F.filter(pairs, lambda q: F.instr(q, sep) != 0)

        def unquote(v):
            if not self.quote:
                return v
            q = self.quote
            ql = len(q)
            wrapped = (
                (F.length(v) >= 2 * ql)
                & v.startswith(q)
                & v.endswith(q)
            )
            return F.when(
                wrapped, F.substring(v, ql + 1, F.length(v) - 2 * ql)
            ).otherwise(v)

        def nosep_count_before(i):
            # how many earlier pairs also lacked the separator
            return F.size(
                F.filter(F.slice(pairs, F.lit(1), i), lambda q: F.instr(q, sep) == 0)
            )

        def empty_count_before(i):
            return F.size(
                F.filter(F.slice(pairs, F.lit(1), i), lambda q: F.instr(q, sep) == 1)
            )

        def pair_entry(p, i):
            pos = F.instr(p, sep)
            key = F.substring(p, F.lit(1), pos - 1)
            val = unquote(F.substring(p, pos + sep_len, F.length(p)))
            return (
                F.when(
                    pos == 0,
                    F.struct(
                        F.concat(
                            F.lit(self.nosep_prefix),
                            nosep_count_before(i).cast("string"),
                        ).alias("key"),
                        unquote(p).alias("value"),
                    ),
                )
                .when(
                    pos == 1,
                    F.struct(
                        F.concat(
                            F.lit(self.empty_prefix),
                            empty_count_before(i).cast("string"),
                        ).alias("key"),
                        val.alias("value"),
                    ),
                )
                .otherwise(F.struct(key.alias("key"), val.alias("value")))
            )

        entries = F.transform(pairs, pair_entry)
        # 'a=1&a=2' → last value wins, regardless of session dedup policy
        m = F.map_from_entries(last_win_entries(entries))
        out = df.withColumn(self.dest, m)
        if not self.keep_source:
            out = out.drop(self.source_key)
        return out


def parse_kv_columns(df: DataFrame, source: str, keys: list[str],
                     delim: str = "&", sep: str = "=") -> DataFrame:
    """Typed-column convenience: project selected kv keys to columns."""
    m = F.str_to_map(F.col(source), F.lit(re.escape(delim)), F.lit(re.escape(sep)))
    for k in keys:
        df = df.withColumn(k, F.try_element_at(m, F.lit(k)))
    return df


@register("processor_parse_container_log_native")
class ParseContainerLogNative(Processor):
    """Container stdout/stderr line parse
    (core/plugin/processor/inner/ProcessorParseContainerLogNative.cpp).

    * ``Format='containerd_text'`` (.cpp:176-259): ``<time> <stream> [P|F ]
      <content>`` — two space-delimited header fields, then an optional
      single-char partial(P)/full(F) tag followed by one space. A ``P``
      tag marks a partial log (``_part_`` = true) for MergePartialLogs;
      anything that is not exactly ``P``/``F`` + space rides into the
      content verbatim (the reference's pch3 == pch2+2 check).
    * ``Format='docker_json-file'`` (.cpp:464-526): one JSON object per
      line with ``log``/``time``/``stream``; exactly one trailing newline
      of ``log`` is stripped.

    Output keys mirror the reference: ``_time_``, ``_source_`` and the
    content replaces ``SourceKey``; rows whose stream is filtered by
    ``IgnoringStdout/Stderr`` are dropped; malformed rows are kept
    verbatim (``KeepingSourceWhenParseFail``, default) or dropped.
    Pure built-ins: instr/substring header split, from_json for docker.
    """

    def __init__(
        self,
        SourceKey: str = "content",
        Format: str = "containerd_text",
        IgnoringStdout: bool = False,
        IgnoringStderr: bool = False,
        KeepingSourceWhenParseFail: bool = True,
    ) -> None:
        if Format not in ("containerd_text", "docker_json-file"):
            raise ValueError(f"unsupported container log format: {Format}")
        self.source_key = SourceKey
        self.format = Format
        self.ignore_stdout = IgnoringStdout
        self.ignore_stderr = IgnoringStderr
        self.keep_on_fail = KeepingSourceWhenParseFail

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        if self.format == "containerd_text":
            p1 = F.instr(src, " ")
            rest1 = F.substring(src, p1 + 1, F.length(src))
            p2 = F.instr(rest1, " ")
            time_v = F.substring(src, F.lit(1), p1 - 1)
            source_v = F.substring(rest1, F.lit(1), p2 - 1)
            tail = F.substring(rest1, p2 + 1, F.length(rest1))
            ok = (
                (p1 > 0)
                & (p2 > 0)
                & source_v.isin("stdout", "stderr")
            )
            is_part = tail.startswith("P ")
            is_full = tail.startswith("F ")
            content = F.when(
                is_part | is_full, F.substring(tail, 3, F.length(tail))
            ).otherwise(tail)
        else:
            parsed = F.from_json(
                src, "struct<log:string,time:string,stream:string>"
            )
            time_v = parsed["time"]
            source_v = parsed["stream"]
            raw = parsed["log"]
            content = F.when(
                raw.endswith("\n"), F.substring(raw, F.lit(1), F.length(raw) - 1)
            ).otherwise(raw)
            ok = (
                parsed.isNotNull()
                & source_v.isNotNull()
                & source_v.isin("stdout", "stderr")
            )
            is_part = F.lit(False)

        out = df.withColumn("__cl_ok__", F.coalesce(ok, F.lit(False)))
        drops = []
        if self.ignore_stdout:
            drops.append(source_v == "stdout")
        if self.ignore_stderr:
            drops.append(source_v == "stderr")
        if drops:
            drop_cond = drops[0]
            for d in drops[1:]:
                drop_cond = drop_cond | d
            out = out.filter(~(F.col("__cl_ok__") & drop_cond))
        if not self.keep_on_fail:
            out = out.filter(F.col("__cl_ok__"))
        okc = F.col("__cl_ok__")
        out = (
            out.withColumn("_time_", F.when(okc, time_v))
            .withColumn("_source_", F.when(okc, source_v))
            .withColumn("_part_", F.when(okc, is_part).otherwise(F.lit(False)))
            .withColumn(
                self.source_key, F.when(okc, content).otherwise(src)
            )
            .drop("__cl_ok__")
        )
        return out
