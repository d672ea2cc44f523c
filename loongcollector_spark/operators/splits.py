"""Split / explode / multiline-merge processors (SURVEY.md §2.1).

* field splits (``processor_split_char`` / ``processor_split_string``) —
  ``F.split`` + ``try_element_at``
* event splits (``processor_split_log_string`` / ``_regex``) — ``explode``:
  one event becomes many rows
* multiline merge (``processor_merge_multiline_log_native``) — the inverse:
  sessionize continuation lines into one event. Expressed with a window
  over (source, offset): a running count of start-markers assigns each
  line to its logical event, then ``collect_list`` within the group —
  no per-row Python, two narrow shuffles on the source key.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loongcollector_spark.operators.base import Processor, register


def _split_char_quoted(value: str, sep: str, quote: str, keys: list[str],
                       preserve: bool):
    """Transcription of the QuoteFlag branch of splitValue
    (split_char.go:81-146): a quote is only honored at field start, a
    doubled quote escapes, and a closing quote must sit at EOL or before
    a separator — anything else is a parse failure. Returns
    (fields dict, preserve remainder | None, ok)."""
    out: dict[str, str] = {}
    key_idx, last, i, n = 0, 0, 0, len(value)
    while key_idx < len(keys) and i < n:
        c = value[i]
        if c == sep:
            out[keys[key_idx]] = ""
            last = i + 1
            i += 1
            key_idx += 1
        elif c == quote:
            i += 1
            buf: list[str] = []
            closed = False
            while i < n:
                if value[i] == quote:
                    if i == n - 1 or value[i + 1] == sep:
                        i += 1
                        out[keys[key_idx]] = "".join(buf)
                        last = i + 1
                        i += 1
                        closed = True
                        break
                    if value[i + 1] == quote:
                        i += 1
                        buf.append(value[i])
                    else:
                        return out, None, False  # no continue quote
                else:
                    buf.append(value[i])
                i += 1
            key_idx += 1
            if not closed and i >= n:
                # unterminated quote: Go's outer for still runs its
                # post-increment (applied above) before the i<len check
                # fails, so the raw rest (from the pre-quote offset)
                # falls to the NEXT key via the trailing rule below
                break
        else:
            nxt = value.find(sep, i)
            if nxt < 0:
                break
            out[keys[key_idx]] = value[i:nxt]
            last = nxt + 1
            i = last
            key_idx += 1
    rest = None
    if key_idx >= len(keys) and last < n:
        if preserve:
            rest = value[last:]
            last = n
    if key_idx < len(keys) and last < n:
        out[keys[key_idx]] = value[last:]
        key_idx += 1
    return out, rest, True


@register("processor_split_char")
class SplitChar(Processor):
    """Single-char split into SplitKeys, reference semantics
    (plugins/processor/split/char/split_char.go:70-191):

    * fields pairwise; interior empties are ``''`` but a TRAILING empty
      remainder leaves its key unset → NULL (go:149-152)
    * ``PreserveOthers`` (reference default true) keeps the raw unsplit
      remainder under ``_split_preserve_`` once keys are exhausted — not
      emitted when the final separator ends the value (go:134-146)
    * ``QuoteFlag``+``Quote``: the go:81-130 quote FSM (quote at field
      start, doubled-quote escape, close only at sep/EOL; malformed →
      parse failure) as an Arrow-batched pandas UDF — the quote path is
      inherently sequential, the plain path stays JVM-side
    * source column NULLed on success unless ``KeepSource``; kept on
      quote-parse failure when ``KeepSourceIfParseError`` (go:179-181)
    """

    def __init__(
        self,
        SourceKey: str,
        SplitSep: str = "\n",
        SplitKeys: list[str] | None = None,
        PreserveOthers: bool = True,
        QuoteFlag: bool = False,
        Quote: str = "",
        KeepSource: bool = False,
        KeepSourceIfParseError: bool = True,
    ) -> None:
        if len(SplitSep) != 1:
            raise ValueError("SplitSep must be a single char")
        if QuoteFlag and len(Quote) != 1:
            raise ValueError("Quote must be a single char when QuoteFlag set")
        self.source_key = SourceKey
        self.sep = SplitSep
        self.keys = list(SplitKeys or [])
        self.preserve_others = PreserveOthers
        self.quote = Quote if QuoteFlag else ""
        self.keep_source = KeepSource
        self.keep_source_if_err = KeepSourceIfParseError

    def _finish_source(self, df: DataFrame, ok) -> DataFrame:
        if self.keep_source:
            return df
        src = F.col(self.source_key)
        kept = F.when(~ok, src) if self.keep_source_if_err else F.lit(None)
        return df.withColumn(self.source_key, kept.cast("string"))

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        nk = len(self.keys)
        if self.quote:
            return self._call_quoted(df)
        if nk == 0:
            if self.preserve_others:
                df = df.withColumn("_split_preserve_", src)
            return self._finish_source(df, F.lit(True))
        arr = F.split(src, re.escape(self.sep), -1)
        n = F.size(arr)
        for i, k in enumerate(self.keys):
            fld = F.try_element_at(arr, F.lit(i + 1))
            # trailing empty remainder leaves the key unset (go:149-152)
            df = df.withColumn(
                k, F.when((F.lit(i + 1) < n) | (fld != ""), fld)
            )
        if self.preserve_others:
            rest = F.array_join(F.slice(arr, nk + 1, 1_000_000), self.sep)
            df = df.withColumn(
                "_split_preserve_",
                F.when((n > nk) & (rest != ""), rest),
            )
        return self._finish_source(df, F.lit(True))

    def _call_quoted(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        keys, sep, quote = self.keys, self.sep, self.quote
        preserve = self.preserve_others
        fields = [T.StructField(k, T.StringType()) for k in keys]
        fields.append(T.StructField("_split_preserve_", T.StringType()))
        fields.append(T.StructField("__ok__", T.BooleanType()))
        schema = T.StructType(fields)

        @F.pandas_udf(schema)
        def split_q(col):  # noqa: ANN001
            import pandas as pd

            rows = []
            for v in col:
                if v is None:
                    rows.append({f.name: None for f in fields})
                    continue
                out, rest, ok = _split_char_quoted(v, sep, quote, keys, preserve)
                rec = {k: out.get(k) for k in keys}
                rec["_split_preserve_"] = rest
                rec["__ok__"] = ok
                rows.append(rec)
            return pd.DataFrame(rows, columns=[f.name for f in fields])

        df = df.withColumn("__sq__", split_q(F.col(self.source_key)))
        for k in keys:
            df = df.withColumn(k, F.col("__sq__")[k])
        if preserve:
            df = df.withColumn(
                "_split_preserve_", F.col("__sq__")["_split_preserve_"]
            )
        ok = F.coalesce(F.col("__sq__")["__ok__"], F.lit(False))
        return self._finish_source(df, ok).drop("__sq__")


@register("processor_split_string")
class SplitString(SplitChar):
    """Multi-char delimiter variant
    (plugins/processor/split/string/split_string.go:34-46; plain split
    only — the string variant has no quote mode)."""

    def __init__(
        self,
        SourceKey: str,
        SplitSep: str = "\n",
        SplitKeys: list[str] | None = None,
        PreserveOthers: bool = True,
        KeepSource: bool = False,
        KeepSourceIfParseError: bool = True,
    ) -> None:
        self.source_key = SourceKey
        self.sep = SplitSep
        self.keys = list(SplitKeys or [])
        self.preserve_others = PreserveOthers
        self.quote = ""
        self.keep_source = KeepSource
        self.keep_source_if_err = KeepSourceIfParseError


@register("processor_split_log_string")
class SplitLogString(Processor):
    """Split ONE event into MANY by separator — ``explode``
    (plugins/processor/split/logstring/split_log_string.go; native twin
    core/plugin/processor/inner/ProcessorSplitLogStringNative.h:33-34).
    Preserves intra-event order via a ``part_idx`` column."""

    def __init__(
        self, SourceKey: str, SplitSep: str = "\n", PartIdxKey: str | None = "part_idx"
    ) -> None:
        self.source_key = SourceKey
        self.sep = SplitSep
        self.part_idx_key = PartIdxKey

    def __call__(self, df: DataFrame) -> DataFrame:
        arr = F.split(F.col(self.source_key), re.escape(self.sep), -1)
        if self.part_idx_key:
            return (
                df.select(
                    "*",
                    F.posexplode(arr).alias(self.part_idx_key, "__lc_part_val__"),
                )
                .withColumn(self.source_key, F.col("__lc_part_val__"))
                .drop("__lc_part_val__")
            )
        return df.withColumn(self.source_key, F.explode(arr))


@register("processor_split_log_regex")
class SplitLogRegex(Processor):
    """Split one event into many at line-start-regex boundaries (multiline
    split — plugins/processor/split/logregex/split_log_regex.go).

    Lines are grouped so each output part begins with a line matching
    ``SplitRegex``; leading non-matching lines form part 0 (the
    reference's NoMatchError/keep behavior). Pure array ops: split,
    running-flag via ``aggregate``, no UDF.
    """

    def __init__(self, SourceKey: str, SplitRegex: str, PartIdxKey: str = "part_idx"):
        self.source_key = SourceKey
        self.split_regex = SplitRegex
        self.part_idx_key = PartIdxKey

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        lines = F.split(src, r"\n", -1)
        rx = self.split_regex
        # per-line group id = running count of start-marker lines
        gid = F.transform(
            lines,
            lambda line, i: F.size(
                F.filter(
                    F.slice(lines, 1, i + 1),
                    lambda l: l.rlike(f"^(?:{rx})"),
                )
            ),
        )
        # zip lines with group ids, then collect per distinct gid
        zipped = F.zip_with(
            lines, gid, lambda line, g: F.struct(g.alias("g"), line.alias("line"))
        )
        groups = F.transform(
            F.array_distinct(F.transform(zipped, lambda s: s["g"])),
            lambda g: F.array_join(
                F.transform(
                    F.filter(zipped, lambda s: s["g"] == g),
                    lambda s: s["line"],
                ),
                "\n",
            ),
        )
        out = df.select(
            "*", F.posexplode(groups).alias(self.part_idx_key, "__lc_part_val__")
        )
        return out.withColumn(self.source_key, F.col("__lc_part_val__")).drop(
            "__lc_part_val__"
        )


def _scan_open_state(u, v, p0: bool):
    """Vectorized boolean scan of the recurrence p' = (p & u) | (~p & v).

    Every multiline mode's open/closed state is of this form, so the
    whole per-group FSM reduces to: each line is a SET (u==v, to value
    u), a TOGGLE (u=0, v=1), or IDENTITY (u=1, v=0); the state after
    line i is the value at the last SET xor the parity of TOGGLEs since
    it. cummax + cumsum — no per-row Python. Returns the state BEFORE
    each line."""
    import numpy as np

    n = len(u)
    if n == 0:
        return np.zeros(0, dtype=bool)
    is_set = u == v
    toggle = ~u & v
    idx = np.arange(n)
    last_set = np.maximum.accumulate(np.where(is_set, idx, -1))
    tog = np.cumsum(toggle)
    safe = np.clip(last_set, 0, None)
    base = np.where(last_set >= 0, u[safe], p0)
    parity = (tog - np.where(last_set >= 0, tog[safe], 0)) % 2
    p_after = base.astype(bool) ^ parity.astype(bool)
    out = np.empty(n, dtype=bool)
    out[0] = p0
    out[1:] = p_after[:-1]
    return out


def _chunk_entries(f0, f1, b0, b1, p0: bool):
    """Entry state and event-id offset of each chunk of one group, in chunk
    order. Chunk j maps its entry state p to ``f1[j] if p else f0[j]`` and
    opens ``b1[j] if p else b0[j]`` events: the recurrence of
    :func:`_scan_open_state` with u=f1, v=f0. So the entry states are one
    scan and the offsets an exclusive cumsum of the events opened."""
    import numpy as np

    entry = _scan_open_state(f1, f0, p0)
    step = np.where(entry, b1, b0)
    return entry, np.cumsum(step) - step


# ChunkRows="auto": a group takes the 3-shuffle chunk-parallel FSM once
# it exceeds this many rows, in chunks of max(this // 4, ceil(n / (2 *
# defaultParallelism))) rows from its own count n. The crossover over the
# single-task plain path (BENCH.md, measured at local[32]) sits between a
# 400k-row and a 4M-row hot group; 1M is the conservative middle.
_AUTO_MIN_GROUP = 1_000_000


def _mode_uv(s, c, e, has_s, has_c, has_e):
    """The per-mode law of the merge FSM
    (ProcessorMergeMultilineLogNative.cpp:161-345) as transition vectors
    of the state recurrence p' = (p & u) | (~p & v), plus ``p0``, the
    state entering the FIRST line of a group. For the scan modes p is
    the open-event state; for only-End / Continue+End p is 'previous
    line was e / c' (a SET every line). Every engine — the block scan,
    the chunked transfer functions, the streaming open-region head —
    derives from this table and :func:`_mode_line_flags`."""
    import numpy as np

    n = len(s)
    if has_e and not has_s and not has_c:
        return e, e, True          # p = prev-was-end; group start = boundary
    if has_c and has_e and not has_s:
        return c, c, False         # p = prev-was-continue
    if has_s and has_e and not has_c:
        return ~e, s, False
    if has_s and has_c and not has_e:
        return (c | s), s, False
    if has_s and has_c and has_e:
        return c, s, False
    return np.ones(n, dtype=bool), s, False   # start-only


def _mode_line_flags(p, s, c, e, has_s, has_c, has_e):
    """(member, boundary, close_ok | None, standalone) per line given the
    recurrence state ``p`` from :func:`_mode_uv`: member lines belong to
    a (possibly broken) event, a boundary line opens one, an event is
    complete iff one of its lines is ``close_ok`` (None: always), and a
    standalone line is a complete 1-line event outside any run
    (Continue+End's lone end line, .cpp:230-238)."""
    import numpy as np

    zeros = np.zeros(len(p), dtype=bool)
    if has_e and not has_s and not has_c:
        # always inside; events split after each end line
        return np.ones(len(p), dtype=bool), p, e, zeros
    if has_c and has_e and not has_s:
        # open at continue; the first non-continue line closes (end
        # decides); a lone end line outside is a complete event
        return p | c, ~p & c, p & ~c & e, ~p & ~c & e
    if has_s and has_e and not has_c:
        # open at start, close (after appending) at end
        return p | s, ~p & s, p & e, zeros
    if has_s and has_c and not has_e:
        # run of continues; a non-continue start line both closes the
        # run and opens a new event
        return s | (p & c), s & (~p | ~c), None, zeros
    if has_s and has_c and has_e:
        # continues extend, any non-continue closes (end decides)
        return p | s, ~p & s, p & ~c & e, zeros
    # start-only: a start line opens a new event even while open
    return p | s, s, None, zeros


def _open_region_head_single(o, s, c, e, has_s, has_c, has_e,
                             merge_unmatched=False):
    """For ONE group sorted by order: the order value of the first line
    of the EOF-*open* region — the suffix whose merge outcome could
    still change if more lines arrived — or None when the group's whole
    output is final. The output is final iff the FSM ends back in its
    initial state ``p0``; otherwise the open region is the trailing
    event, headed by the last boundary line. Powers the cross-trigger
    ``ForeachBatchMultilineMerge`` (streaming == batch equivalence;
    differential-tested across all modes and chunkings in
    tests/test_sinks_monitor.py)."""
    import numpy as np

    if len(o) == 0:
        return None
    u, v, p0 = _mode_uv(s, c, e, has_s, has_c, has_e)
    p = _scan_open_state(u, v, p0)
    if ((p[-1] & u[-1]) | (~p[-1] & v[-1])) == p0:
        # back in the initial state: nothing pending — except under the
        # start-only 'merge' extension, where it means no start marker
        # yet, so the WHOLE group is one still-growing leading event
        return o[0] if merge_unmatched else None
    _, boundary, _, _ = _mode_line_flags(p, s, c, e, has_s, has_c, has_e)
    return o[np.flatnonzero(boundary)[-1]]


def _merge_block_vectorized(g, o, v_series, s, c, e, has_s, has_c, has_e,
                            single_line):
    """Vectorized engine for the multiline merge FSM over a block of
    COMPLETE groups sorted by (group, order) — same semantics as
    :func:`_merge_rows_python` (the reference transcription of
    ProcessorMergeMultilineLogNative.cpp:161-345, kept for differential
    tests), but O(lines) numpy: the :func:`_mode_uv` recurrence via
    :func:`_scan_open_state` (per-group reset by forcing the last line
    of each group to a SET to ``p0`` — its own state is already
    computed, only successors see the reset), line flags from
    :func:`_mode_line_flags`, event ids via cumsum of boundary flags,
    completeness via a per-event close mark, and one join call per
    EVENT (not per line). Processing whole sorted partitions instead of
    one pandas call per tiny group is what makes the pandas path cheap
    at 10^12-turn scale.

    Returns (groups, texts, orders, n_merged) lists."""
    import numpy as np
    import pandas as pd

    n = len(o)
    if n == 0:
        return [], [], [], []
    last = np.empty(n, dtype=bool)
    last[-1] = True
    last[:-1] = g[1:] != g[:-1]
    u, v, p0 = _mode_uv(s, c, e, has_s, has_c, has_e)
    p = _scan_open_state(np.where(last, p0, u), np.where(last, p0, v), p0)
    member, boundary, close_ok, standalone = _mode_line_flags(
        p, s, c, e, has_s, has_c, has_e
    )
    evt = np.cumsum(boundary)
    if close_ok is None:
        complete_line = member
    else:
        comp = np.zeros(int(evt[-1]) + 1, dtype=bool)
        comp[evt[close_ok]] = True
        complete_line = comp[evt]
    merged_mask = member & complete_line
    # dangling/broken events with an End pattern are unmatched per line
    unmatched = (~member & ~standalone) | (member & ~complete_line)
    v_obj = v_series.to_numpy(dtype=object)
    groups: list = []
    texts: list = []
    orders: list = []
    ns: list = []
    if merged_mask.any():
        # event runs are contiguous in the sorted block: one C-level
        # slice + join per EVENT (pandas groupby-agg here costs ~3x the
        # whole python FSM at 1M+ events)
        vm = v_obj[merged_mask]
        nulls = pd.isna(vm)
        if nulls.any():
            vm = vm.copy()
            vm[nulls] = ""
        em = evt[merged_mask]
        starts = np.flatnonzero(np.concatenate(([True], em[1:] != em[:-1])))
        ends = np.concatenate((starts[1:], [len(em)]))
        vl = vm.tolist()
        texts += [
            "\n".join(vl[a:b]) for a, b in zip(starts.tolist(), ends.tolist())
        ]
        groups += g[merged_mask][starts].tolist()
        orders += o[merged_mask][starts].tolist()
        ns += (ends - starts).tolist()
    keep = standalone | (unmatched if single_line else standalone)
    if keep.any():
        groups += list(g[keep])
        texts += list(v_obj[keep])
        orders += o[keep].tolist()
        ns += [1] * int(keep.sum())
    return groups, texts, orders, ns


def _merge_rows_python(rows, has_s, has_c, has_e, single_line):
    """Reference per-row transcription of the two-state FSM
    (ProcessorMergeMultilineLogNative.cpp:161-345). Retained verbatim for
    differential testing of :func:`_merge_block_vectorized` and the
    Spark plans; production uses the vectorized engine.
    rows: (order, text, s, c, e) sorted."""
    out: list[tuple] = []
    events: list[tuple] = []  # (order, text)

    def emit_merge():
        if events:
            out.append(
                (
                    "\n".join("" if t is None else t for _, t in events),
                    events[0][0],
                    len(events),
                )
            )
            events.clear()

    def unmatch(batch):
        if single_line:
            for o, t in batch:
                out.append((t, o, 1))

    # only-End sticks to the partial state (.cpp:176-180)
    partial = not has_s and not has_c and has_e
    for o, t, s, c, e in rows:
        if not partial:
            primary = s if has_s else c
            if primary:
                events.append((o, t))
                partial = True
            elif has_e and not has_s and has_c and e:
                # continue+end: an end line outside a partial is a
                # complete single event (.cpp:230-238)
                out.append((t, o, 1))
            else:
                unmatch([(o, t)])
        else:
            if has_c and c:
                events.append((o, t))
                continue
            if has_e:
                events.append((o, t))
                if has_c:
                    # end pattern decides (.cpp:253-264)
                    if e:
                        emit_merge()
                    else:
                        unmatch(events)
                        events.clear()
                    partial = False
                else:
                    if e:
                        emit_merge()
                        if has_s:
                            partial = False
                        # only-end: stay partial, next log starts
                    # not end → wait for the next line
            else:
                if not has_c:
                    # start only (fast path handles this normally)
                    if not s:
                        events.append((o, t))
                    else:
                        emit_merge()
                        events.append((o, t))
                else:
                    # start+continue: current line broke the run
                    emit_merge()
                    if not s:
                        unmatch([(o, t)])
                        partial = False
                    else:
                        events.append((o, t))
    if partial and events:
        if not has_e:
            emit_merge()
        else:
            unmatch(events)  # dangling partial with End → unmatched
    return out


@register("processor_merge_multiline_log_native")
class MergeMultilineLog(Processor):
    """Merge continuation rows into one logical event
    (core/plugin/processor/inner/ProcessorMergeMultilineLogNative.cpp:161-345,
    ProcessorSplitMultilineLogStringNative.h:68-79).

    Rows ordered by (GroupKey, OrderKey). Supported pattern combinations
    mirror MergeLogsByRegex (.cpp:162-169): Start, Start+Continue,
    Start+End, Continue+End, End — Continue alone is invalid, exactly as
    in the reference. ``UnmatchedContentTreatment``: 'single_line' emits
    unmatched rows as their own events; 'discard' drops them.

    The Start/Continue/End flags are computed JVM-side with ``rlike``
    *before* any shuffle (:meth:`_flagged`), so Python sees only booleans
    + strings. Physical plans:

    * Start-only — a window over (GroupKey → OrderKey) computing a
      running sum of start flags (one shuffle on GroupKey), then one
      groupBy on the assigned event id (:meth:`_assemble_events`); no
      Python at all.
    * Continue/End combinations — the reference's two-state FSM is
      inherently sequential per group, so it runs partition-level via
      Arrow: one shuffle on GroupKey, then the vectorized numpy scan
      (:func:`_merge_block_vectorized`) over whole sorted partitions.
    * ``ChunkRows`` set — groups larger than ChunkRows (``'auto'``:
      larger than ``_AUTO_MIN_GROUP``) take the chunk-parallel
      transfer-function path (:meth:`_chunked_core`), the rest one of
      the plans above. The route reads the group sizes as data inside
      the plan (:meth:`_call_fsm_chunked`).

    Building any of these plans starts no Spark job.

    Every Continue/End plan derives from one statement of the per-mode
    law (:func:`_mode_uv` + :func:`_mode_line_flags`), pinned against the
    per-row reference transcription :func:`_merge_rows_python`.
    """

    def __init__(
        self,
        SourceKey: str,
        GroupKey: str,
        OrderKey: str,
        StartPattern: str | None = None,
        ContinuePattern: str | None = None,
        EndPattern: str | None = None,
        UnmatchedContentTreatment: str = "single_line",
        ChunkRows: int | None = None,
    ) -> None:
        if not (StartPattern or ContinuePattern or EndPattern):
            raise ValueError("at least one of Start/Continue/EndPattern required")
        if ContinuePattern and not (StartPattern or EndPattern):
            raise ValueError(
                "ContinuePattern alone is unsupported (reference "
                "MergeLogsByRegex supports start, start+continue, "
                "start+end, continue+end, end)"
            )
        for p in (StartPattern, ContinuePattern, EndPattern):
            if p:
                re.compile(p)  # fail fast at config time, like Init()
        if UnmatchedContentTreatment == "merge" and (
            ContinuePattern or EndPattern
        ):
            # the 'merge' extension (leading rows before the first start
            # marker collapse into ONE event) is only defined for the
            # Start-only mode; in FSM modes unmatched lines are interior,
            # where 'merge' has no reference-grounded meaning
            raise ValueError(
                "UnmatchedContentTreatment='merge' requires a Start-only "
                "pattern (engine extension; reference treatments are "
                "single_line/discard)"
            )
        self.source_key = SourceKey
        self.start_pattern = StartPattern
        self.continue_pattern = ContinuePattern
        self.end_pattern = EndPattern
        self.group_key = GroupKey
        self.order_key = OrderKey
        self.unmatched = UnmatchedContentTreatment
        if ChunkRows is not None and ChunkRows != "auto" and ChunkRows < 2:
            raise ValueError("ChunkRows must be >= 2 (or 'auto')")
        self.chunk_rows = ChunkRows

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            # The batch merge needs a total per-group order; a streaming
            # source's _offset_ is only ordered within a micro-batch, so
            # the window/FSM here would interleave one file's lines
            # across triggers (VERDICT r2 #4). Fail loud with the right
            # tool instead of Spark's generic unsupported-window error.
            raise ValueError(
                "MergeMultilineLog is a batch operator; for streams use "
                "loongcollector_spark.streaming.pipeline."
                "ForeachBatchMultilineMerge (cross-trigger, batch-equal, "
                "all modes)"
            )
        if self.chunk_rows is not None:
            return self._call_fsm_chunked(df)
        return self._plain(df)

    def _plain(self, df: DataFrame) -> DataFrame:
        """The single-shuffle plan for the configured patterns."""
        if self.continue_pattern or self.end_pattern:
            return self._call_fsm(df)
        return self._call_start_only(df)

    def _flagged(self, df: DataFrame, *cols) -> DataFrame:
        """(GroupKey, OrderKey, __v__ = source, __s__, __c__, __e__,
        *cols): the per-line pattern flags every plan reads.
        BoostRegexSearch is a *search*, not a full match; a NULL line
        matches nothing. Start-only anchors its pattern (``^(?:…)``), on
        every path, so plain, chunked and streaming agree."""
        src = F.col(self.source_key)
        start_only = not (self.continue_pattern or self.end_pattern)

        def flag(pattern, anchored=False):
            if not pattern:
                return F.lit(False)
            pat = f"^(?:{pattern})" if anchored else pattern
            return F.coalesce(src.rlike(pat), F.lit(False))

        return df.select(
            self.group_key,
            self.order_key,
            src.alias("__v__"),
            flag(self.start_pattern, start_only).alias("__s__"),
            flag(self.continue_pattern).alias("__c__"),
            flag(self.end_pattern).alias("__e__"),
            *cols,
        )

    def _mode(self):
        """(has_s, has_c, has_e): which patterns are set."""
        return (
            self.start_pattern is not None,
            self.continue_pattern is not None,
            self.end_pattern is not None,
        )

    def open_region_heads(self, df: DataFrame) -> DataFrame:
        """(GroupKey, __open_head__) per group whose EOF tail is still
        OPEN — the order value from which the merge outcome could change
        if more lines arrived; groups whose output is entirely final are
        absent. Used by ``streaming.ForeachBatchMultilineMerge`` to
        decide exactly which trailing raw lines to carry to the next
        micro-batch (everything before the head is emitted as final).
        Not a 10^12-row hot path: per-trigger inputs only."""
        from pyspark.sql import types as T

        has_s, has_c, has_e = self._mode()
        gk, ok = self.group_key, self.order_key
        flagged = self._flagged(df).drop("__v__")
        in_schema = dict(zip(df.schema.names, df.schema.fields))
        out_schema = T.StructType(
            [
                in_schema[gk],
                T.StructField("__open_head__", in_schema[ok].dataType),
            ]
        )

        merge_unmatched = self.unmatched == "merge"

        def fn(pdf):
            import pandas as pd

            pdf = pdf.sort_values(ok)
            h = _open_region_head_single(
                pdf[ok].to_numpy(),
                pdf["__s__"].to_numpy(dtype=bool),
                pdf["__c__"].to_numpy(dtype=bool),
                pdf["__e__"].to_numpy(dtype=bool),
                has_s, has_c, has_e,
                merge_unmatched=merge_unmatched,
            )
            if h is None:
                return pd.DataFrame({gk: [], "__open_head__": []})
            return pd.DataFrame(
                {gk: [pdf[gk].iloc[0]], "__open_head__": [h]}
            )

        return flagged.groupBy(gk).applyInPandas(fn, out_schema)

    def _call_fsm(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        has_s, has_c, has_e = self._mode()
        single_line = self.unmatched != "discard"
        group_key, order_key, source_key = (
            self.group_key,
            self.order_key,
            self.source_key,
        )
        flagged = self._flagged(df)
        in_schema = dict(zip(df.schema.names, df.schema.fields))
        out_schema = T.StructType(
            [
                in_schema[group_key],
                T.StructField(source_key, T.StringType()),
                in_schema[order_key],
                T.StructField("n_merged", T.LongType()),
            ]
        )

        # One shuffle on GroupKey (hash repartition + in-partition sort),
        # then mapInPandas over WHOLE partitions: the vectorized engine
        # handles every group in a partition in one numpy pass — one
        # Python call per Arrow batch, not one per group. Groups split
        # across Arrow batches are carried to the next batch; only a
        # single group's rows are ever buffered beyond one batch.
        parts = flagged.repartition(F.col(group_key)).sortWithinPartitions(
            group_key, order_key
        )

        def run(batches):
            import numpy as np
            import pandas as pd

            def process(pdf):
                groups, texts, orders, ns = _merge_block_vectorized(
                    pdf[group_key].to_numpy(),
                    pdf[order_key].to_numpy(),
                    pdf["__v__"],
                    pdf["__s__"].to_numpy(dtype=bool),
                    pdf["__c__"].to_numpy(dtype=bool),
                    pdf["__e__"].to_numpy(dtype=bool),
                    has_s, has_c, has_e, single_line,
                )
                return pd.DataFrame(
                    {
                        group_key: groups,
                        source_key: texts,
                        order_key: orders,
                        "n_merged": ns,
                    }
                )

            carry = None
            for pdf in batches:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                    carry = None
                if len(pdf) == 0:
                    continue
                gcol = pdf[group_key].to_numpy()
                # hold back the trailing group — it may continue in the
                # next Arrow batch of this sorted partition
                first_of_last = int(np.argmax(gcol == gcol[-1]))
                if first_of_last == 0:
                    carry = pdf
                else:
                    carry = pdf.iloc[first_of_last:]
                    yield process(pdf.iloc[:first_of_last])
            if carry is not None and len(carry) > 0:
                yield process(carry)

        return parts.mapInPandas(run, out_schema)

    def _call_fsm_chunked(self, df: DataFrame) -> DataFrame:
        """Skew-routed FSM: groups larger than ``ChunkRows`` take the
        chunk-parallel machinery (:meth:`_chunked_core`); everything else
        keeps the single-pass plan (:meth:`_plain`). The same split AQE
        makes for skew joins — only skewed groups pay the extra shuffles.
        A group of at most ChunkRows rows is one chunk, so routing small
        groups to the plain path is semantically free (pinned by the
        differential tests).

        The route is data inside the one plan: the per-group stats
        (count, min and max of OrderKey) are filtered to the big groups,
        each with its chunk size C, broadcast and left-joined once;
        unmatched rows take the plain path, matched rows the chunk path.
        Building the plan runs no Spark job, and with no big group the
        chunk branch is simply empty.

        ``ChunkRows="auto"``: a group is big past ``_AUTO_MIN_GROUP``
        rows, and its chunk size comes from its own count — ~2 chunks
        per core, floored so chunks stay big enough to amortize the
        per-chunk scans."""
        from pyspark.sql import types as T

        n = F.count(F.lit(1))
        if isinstance(df.schema[self.order_key].dataType, T.NumericType):
            mn, mx = F.min(self.order_key), F.max(self.order_key)
        else:
            # other key types chunk a row_number ordinal: its range is 1 .. n
            mn, mx = F.lit(1), n
        if self.chunk_rows == "auto":
            par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
            least = _AUTO_MIN_GROUP
            C = F.greatest(F.lit(_AUTO_MIN_GROUP // 4), F.ceil(n / (2 * par)))
        else:
            least, C = self.chunk_rows, F.lit(self.chunk_rows)
        # one struct column: every branch reads all of it, so the stats
        # are aggregated and broadcast once (the other reads reuse it;
        # a branch that read only some fields would get its own pruned
        # aggregate and broadcast)
        big = df.groupBy(self.group_key).agg(
            F.struct(
                n.alias("n"), mn.alias("mn"), mx.alias("mx"), C.alias("C"),
            ).alias("__st__")
        ).filter(F.col("__st__.n") > least)
        routed = df.join(F.broadcast(big), self.group_key, "left")
        st = F.col("__st__")
        return self._plain(
            routed.filter(st.isNull()).select(*df.columns)
        ).unionByName(self._chunked_core(routed.filter(st.isNotNull())))

    def _chunked_core(self, df: DataFrame) -> DataFrame:
        """Skew-parallel FSM: wall-clock bounded by the chunk size and the
        largest single EVENT, not the largest GROUP.

        The plain paths shuffle each group to one partition, so one hot
        group (a conversation holding 20% of a 10^12-turn corpus, a
        multi-GB log file) serializes on a single task. But the merge
        recurrence p' = (p & u) | (~p & v) is a prefix scan: a chunk of a
        group is a FUNCTION {False,True} → {False,True} of its entry
        state. So:

        1. chunk each group into ~``ceil(n / C)`` chunks (``df`` carries
           the struct ``__st__``: the group's count n, chunk key range
           mn .. mx and chunk size C); per (group, chunk)
           compute in parallel the transfer pair (state-after for entry
           False/True) + boundary counts for both entries — two
           vectorized scans, no data movement beyond the chunk shuffle;
        2. fold the per-chunk functions left-to-right per GROUP over the
           tiny metadata table (rows = #chunks, not #lines) to fix each
           chunk's true entry state and global event-id offset;
        3. re-scan each chunk in parallel with its entry state, emitting
           per-line records keyed by global event id;
        4. assemble events with one groupBy (group, event): pieces sort
           + join, completeness = any close line — so an event spanning
           chunks stitches correctly and incomplete events get the
           end-of-input treatment exactly once.

        Differential-tested against the single-pass paths for all modes;
        identical output contract. Costs 2 data shuffles + 1 event
        shuffle vs 1 shuffle for the plain path — use it when group skew
        is the binding constraint (bench: 20M rows with a 4M-row hot
        group run ~3x faster and stop scaling with the hot group).
        Reference semantics: ProcessorMergeMultilineLogNative.cpp:161-345.
        """
        import numpy as np
        from pyspark.sql import types as T

        gk, okey = self.group_key, self.order_key
        in_schema = dict(zip(df.schema.names, df.schema.fields))
        has_s, has_c, has_e = self._mode()
        single_line = self.unmatched != "discard"
        merge_unmatched = self.unmatched == "merge"
        # the state entering a group's first chunk
        no_lines = np.zeros(0, dtype=bool)
        _, _, p0 = _mode_uv(no_lines, no_lines, no_lines, has_s, has_c, has_e)

        # Chunk ids are monotone in OrderKey, so each chunk is a run of
        # the group's order (NULL keys sort first, into chunk 0, as on the
        # plain path). The chunk key's range mn .. mx maps linearly onto
        # ceil(n / C) chunks. A numeric OrderKey is its own chunk key: no
        # window, dense keys get chunks of at most C rows and sparse keys
        # (byte offsets, timestamps) do not fragment a hot group into
        # near-per-row chunks (ADVICE r4); clustered keys may put more
        # than C rows into one chunk. Other key types use a per-group
        # row_number ordinal (range 1 .. n: chunks of at most C rows).
        n, mn, mx, C = (F.col(f"__st__.{f}") for f in ("n", "mn", "mx", "C"))
        if isinstance(in_schema[okey].dataType, T.NumericType):
            chunk_key = F.col(okey)
        else:
            chunk_key = F.row_number().over(Window.partitionBy(gk).orderBy(okey))
        chunk = F.floor(
            (chunk_key - mn).cast("double") * F.ceil(n / C)
            / (mx - mn + 1).cast("double")
        )
        # Each chunk pass requires clustering on (group, chunk), which an
        # input already clustered by GroupKey alone satisfies: always the
        # case after the row_number window. Hash the chunks apart
        # explicitly, or a hot group's chunks would share one task.
        flagged = self._flagged(
            df, F.coalesce(chunk.cast("long"), F.lit(0)).alias("__chunk__")
        ).repartition(gk, "__chunk__")
        gfield = in_schema[gk]
        ofield = in_schema[okey]

        # -- pass 1: per-chunk transfer function + boundary counts -------
        meta_schema = T.StructType(
            [
                gfield,
                T.StructField("__chunk__", T.LongType()),
                T.StructField("f0", T.BooleanType()),
                T.StructField("f1", T.BooleanType()),
                T.StructField("b0", T.LongType()),
                T.StructField("b1", T.LongType()),
            ]
        )

        def meta_fn(key, pdf):
            import pandas as pd

            pdf = pdf.sort_values(okey, na_position="first")
            s = pdf["__s__"].to_numpy(dtype=bool)
            c = pdf["__c__"].to_numpy(dtype=bool)
            e = pdf["__e__"].to_numpy(dtype=bool)
            u, v, _ = _mode_uv(s, c, e, has_s, has_c, has_e)
            row = [key[0], key[1]]
            fs, bs = [], []
            for entry in (False, True):
                p = _scan_open_state(u, v, entry)
                after = bool((p[-1] & u[-1]) | (~p[-1] & v[-1]))
                _, boundary, _, _ = _mode_line_flags(
                    p, s, c, e, has_s, has_c, has_e
                )
                fs.append(after)
                bs.append(int(boundary.sum()))
            return pd.DataFrame(
                [row + fs + bs],
                columns=[gk, "__chunk__", "f0", "f1", "b0", "b1"],
            )

        # r6: the transfer-function pass reads only flags + order — keep
        # the text column out of its exchange and Arrow transfer (guide
        # §2.3 project-before-the-exchange; §4.1 pass only the columns
        # the function needs)
        meta = flagged.drop("__v__").groupBy(gk, "__chunk__").applyInPandas(
            meta_fn, meta_schema
        )

        # -- pass 2: fold transfer functions per group (metadata-sized) --
        entry_schema = T.StructType(
            [
                gfield,
                T.StructField("__chunk__", T.LongType()),
                T.StructField("__entry__", T.BooleanType()),
                T.StructField("__off__", T.LongType()),
            ]
        )

        def compose_fn(key, pdf):
            import pandas as pd

            pdf = pdf.sort_values("__chunk__")
            entry, off = _chunk_entries(
                pdf["f0"].to_numpy(dtype=bool), pdf["f1"].to_numpy(dtype=bool),
                pdf["b0"].to_numpy(), pdf["b1"].to_numpy(), p0,
            )
            return pd.DataFrame(
                {
                    gk: [key[0]] * len(entry),
                    "__chunk__": pdf["__chunk__"].to_numpy(),
                    "__entry__": entry,
                    "__off__": off,
                }
            )

        entries = meta.groupBy(gk).applyInPandas(compose_fn, entry_schema)

        # -- pass 3: per-chunk line records with true entry state --------
        rec_schema = T.StructType(
            [
                gfield,
                T.StructField("__evt__", T.LongType()),
                ofield,
                T.StructField("__v__", T.StringType()),
                T.StructField("__ok__", T.BooleanType()),
            ]
        )

        def lines_fn(key, pdf):
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values(okey, na_position="first")
            s = pdf["__s__"].to_numpy(dtype=bool)
            c = pdf["__c__"].to_numpy(dtype=bool)
            e = pdf["__e__"].to_numpy(dtype=bool)
            u, v, _ = _mode_uv(s, c, e, has_s, has_c, has_e)
            p = _scan_open_state(u, v, bool(pdf["__entry__"].iloc[0]))
            member, boundary, close_ok, standalone = _mode_line_flags(
                p, s, c, e, has_s, has_c, has_e
            )
            unmatched = ~member & ~standalone
            if merge_unmatched:
                # start-only 'merge' extension: unmatched lines exist
                # only before the group's FIRST start marker, where
                # evt == 0 (off 0, no boundary yet) — absorbing them as
                # members stitches the leading merged event across
                # chunks through the ordinary (group, evt=0) assembly
                member = member | unmatched
                unmatched = np.zeros(len(member), dtype=bool)
            # direct (single-emitted) lines get a unique NEGATIVE event
            # id from (chunk, position in chunk) — a chunk holds < 2^32
            # rows, whatever its size — so the assembly folds them into
            # the same (group, event) groupBy as merged events (member
            # events have evt >= 0, so the id spaces never meet)
            pos = (int(key[1]) << 32) + np.arange(len(pdf), dtype=np.int64)
            evt = np.where(
                member,
                int(pdf["__off__"].iloc[0]) + np.cumsum(boundary),
                -(pos + 1),
            )
            # direct lines are complete 1-line events
            ok = ~member | (True if close_ok is None else close_ok)
            # the chunk's own columns keep their dtypes, so a chunk the
            # 'discard' treatment empties still converts to Arrow
            keep = member | standalone | (unmatched & single_line)
            return pd.DataFrame(
                {
                    gk: pdf[gk].to_numpy()[keep],
                    "__evt__": evt[keep],
                    okey: pdf[okey].to_numpy()[keep],
                    "__v__": pdf["__v__"].to_numpy(dtype=object)[keep],
                    "__ok__": ok[keep],
                }
            )

        # entries is #chunks rows — broadcast keeps the data unshuffled
        # between the chunk passes
        records = (
            flagged.join(F.broadcast(entries), [gk, "__chunk__"])
            .groupBy(gk, "__chunk__")
            .applyInPandas(lines_fn, rec_schema)
        )

        # -- pass 4: assemble events (skew = event size, not group size) -
        return self._assemble_events(records)

    def _assemble_events(self, records: DataFrame) -> DataFrame:
        """Shared event assembly over a line-record frame
        (GroupKey, __evt__, OrderKey, __v__, __ok__): lines group by
        (group, event id) — pieces sort + join, completeness = any line
        with ``__ok__``; incomplete events fall back to the unmatched
        treatment per line. Lines emitted on their own carry a unique
        negative event id, so they are complete 1-piece events of the
        same groupBy. Used by the chunk-parallel path (events stitch
        across chunks through the same groupBy) and the start-only
        plan."""
        gk, okey, sk = self.group_key, self.order_key, self.source_key
        single_line = self.unmatched != "discard"
        # r6: ONE groupBy + ONE generate cover merged events, broken
        # events and direct singles. The previous 3-branch union
        # (merged / broken / directs) re-executed everything above the
        # last Exchange per branch — the records applyInPandas chain ran
        # THREE times (the DataFrame API has no common-subplan reuse
        # above reused exchanges). Direct lines carry unique negative
        # event ids (lines_fn), so they fold into the same aggregation
        # as 1-piece complete events. Plan diff: 3× FlatMapGroupsInPandas
        # → 1×, Union removed; bench skew row 4.3 → 3.85 s (min-of-5).
        aggd = records.groupBy(gk, "__evt__").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(okey).alias("o"), F.col("__v__").alias("v")
                    )
                )
            ).alias("pieces"),
            F.max("__ok__").alias("__complete__"),
        )
        # 1-line events keep a null source verbatim (direct singles and
        # the 'merge' extension — pattern-matched 1-line members are
        # never null), matching _call_start_only's contract
        merged_struct = F.struct(
            F.when(F.size("pieces") == 1, F.element_at("pieces", 1)["v"])
            .otherwise(
                F.array_join(
                    F.transform(
                        F.col("pieces"),
                        lambda x: F.coalesce(x["v"], F.lit("")),
                    ),
                    "\n",
                )
            )
            .alias("v"),
            F.element_at(F.col("pieces"), 1)["o"].alias("o"),
            F.size("pieces").cast("long").alias("n"),
        )
        singles = F.transform(
            F.col("pieces"),
            lambda x: F.struct(
                x["v"].alias("v"), x["o"].alias("o"),
                F.lit(1).cast("long").alias("n"),
            ),
        )
        # incomplete events: per-line singles under 'single_line',
        # dropped under 'discard' (slice(…, 1, 0) = typed empty array)
        outs = F.when(F.col("__complete__"), F.array(merged_struct)).otherwise(
            singles if single_line else F.slice(singles, 1, 0)
        )
        return (
            aggd.select(gk, F.explode(outs).alias("__x__"))
            .select(
                gk,
                F.col("__x__")["v"].alias(sk),
                F.col("__x__")["o"].alias(okey),
                F.col("__x__")["n"].alias("n_merged"),
            )
        )

    def _call_start_only(self, df: DataFrame) -> DataFrame:
        gk, okey = self.group_key, self.order_key
        w = Window.partitionBy(gk).orderBy(okey)
        # event id = running count of start lines; the flag is coalesced
        # (_flagged), so leading NULL lines read as not-a-start instead
        # of yielding NULL ids
        evt = F.sum(F.col("__s__").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        if self.unmatched not in ("discard", "merge"):
            # 'single_line': leading unmatched rows (before any start marker, evt == 0)
            # are emitted as their OWN events: a distinct negative id per
            # row from the same window (ProcessorMergeMultilineLogNative
            # unmatched handling). 'merge' (engine extension) keeps them
            # as one leading event; 'discard' drops them below. nullif
            # keeps the running sum to one window column.
            evt = F.coalesce(F.nullif(evt, F.lit(0)), -F.row_number().over(w))
        records = self._flagged(df).select(
            gk, okey, "__v__", evt.alias("__evt__"),
            F.lit(True).alias("__ok__"),
        )
        if self.unmatched == "discard":
            records = records.filter(F.col("__evt__") > 0)
        return self._assemble_events(records)


@register("processor_merge_partial_logs")
class MergePartialLogs(Processor):
    """Flag-based partial-log merge — the MergeType='flags' branch of
    ProcessorMergeMultilineLogNative (.cpp:106-159): runs of rows carrying
    the partial flag (containerd ``P`` tag) merge with the first
    following unflagged row; pieces concatenate with NO separator
    (MergeEvents insertLineBreak=false). A trailing flagged run with no
    final piece still merges (.cpp:154-157).

    Pure window SQL, no FSM needed: a run [P,P,...,final] shares the
    exclusive running count of unflagged rows, so one shuffle on GroupKey
    + one groupBy — the same segment trick as the Continue+End oracle.
    """

    def __init__(
        self,
        SourceKey: str,
        GroupKey: str,
        OrderKey: str,
        PartFlagKey: str = "_part_",
    ) -> None:
        self.source_key = SourceKey
        self.group_key = GroupKey
        self.order_key = OrderKey
        self.part_key = PartFlagKey

    def __call__(self, df: DataFrame) -> DataFrame:
        part = F.coalesce(F.col(self.part_key), F.lit(False))
        w = (
            Window.partitionBy(self.group_key)
            .orderBy(self.order_key)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        seg = F.coalesce(
            F.sum(F.when(~part, 1).otherwise(0)).over(w), F.lit(0)
        )
        df = df.withColumn("__lc_seg__", seg)
        merged = (
            df.groupBy(self.group_key, "__lc_seg__")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col(self.order_key).alias("o"),
                                    F.col(self.source_key).alias("v"),
                                )
                            )
                        ),
                        lambda s: s["v"],
                    ),
                    "",
                ).alias(self.source_key),
                F.min(self.order_key).alias(self.order_key),
                F.count(F.lit(1)).alias("n_merged"),
            )
            .drop("__lc_seg__")
        )
        return merged
