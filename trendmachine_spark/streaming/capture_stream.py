"""Structured Streaming variant of the capture pipeline (SURVEY.md M5).

New capability relative to the reference (which assumes a fully
sorted, bounded CDX stream — a late row would silently corrupt its
day grouping at main.py:153). Here the capture log is an unbounded
stream with event-time semantics:

* daily rollup -> tumbling 1-day event-time windows with a watermark
  for late captures;
* revisit resolution + chaos counters -> per-url state in
  ``applyInPandasWithState`` (the streaming twin of D4/D5's dicts:
  digest->class map, run counter, 1000-capture ring buffer).

Divergence from batch (documented): revisit resolution and chaos are
computed in *arrival* order per micro-batch (sorted within batch by
ts), so out-of-order arrivals across batches resolve against the state
as of their arrival — the same behavior the reference would have if it
ever saw unsorted input, except deterministic per batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from trendmachine_spark.functions.scalars import status_class
from trendmachine_spark.params import SWS

CAPTURE_EVENT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("event_time", T.TimestampType()),
    T.StructField("status", T.StringType()),
    T.StructField("digest", T.StringType()),
])


def daily_capture_counts(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming O19: per-(url, day) class counts via tumbling windows.

    ``stream`` needs url, event_time (timestamp), status. Late rows
    inside the watermark update their day's counts; later ones drop.
    """
    cls = status_class("status")
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy("url", F.window("event_time", "1 day").alias("day_window"))
        .agg(
            F.sum((cls == "2xx").cast("long")).alias("_2xx"),
            F.sum((cls == "3xx").cast("long")).alias("_3xx"),
            F.sum((cls == "4xx").cast("long")).alias("_4xx"),
            F.sum((cls == "5xx").cast("long")).alias("_5xx"),
            F.count(F.lit(1)).alias("n_captures"),
        )
        .select(
            "url",
            F.to_date(F.col("day_window.start")).alias("day"),
            "_2xx", "_3xx", "_4xx", "_5xx", "n_captures",
        )
    )


STATE_SCHEMA = "digests map<string,string>, ring array<string>, rs bigint, us bigint, uw bigint, prev string"
CHAOS_OUT_SCHEMA = (
    "url string, last_ts timestamp, rs bigint, chaos double, chaosn double"
)


#: default bound on the per-url revisit digest map — the reference's
#: equivalent dict (and the batch window) are unbounded, which on an
#: unbounded stream is a state leak; see ``digest_cap`` docstrings.
DIGEST_CAP = 65536


def chaos_scores_stream(stream: DataFrame, digest_cap: int = DIGEST_CAP) -> DataFrame:
    """Streaming O21: emits the running chaos/chaosn per url after each
    micro-batch — the unbounded twin of the batch daily close values.

    ``digest_cap`` bounds the per-url digest->class map with LRU
    eviction (a revisit touches its digest; inserts evict the least
    recently used once over cap). Documented divergence from the
    reference's unbounded dict: a revisit whose digest was evicted
    resolves to '~' instead of its original class — on real capture
    logs revisits overwhelmingly reference recent digests, so a cap in
    the tens of thousands changes nothing while keeping state O(cap)
    per url on an unbounded stream. LRU recency is exact within a
    micro-batch and follows map insertion order across batches.

    The state function is nested so cloudpickle ships it by value —
    workers don't need this package importable.
    """
    sws = SWS

    def chaos_state_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Streaming O9 + O21: digest->class map, run counter, ring buffer.
        if state.exists:
            digests, ring, rs, us, uw, prev = state.get
            digests = dict(digests)
            ring = list(ring)
        else:
            digests, ring = {}, ["~"] * sws
            rs = us = uw = 0
            prev = "~"

        last_ts = None
        for pdf in pdfs:
            pdf = pdf.sort_values("event_time", kind="mergesort")
            for s, d, ts in zip(pdf["status"], pdf["digest"], pdf["event_time"]):
                s = s[:1] + "xx" if "200" <= s <= "599" else s
                if s == "-":
                    if d in digests:
                        s = digests.pop(d)  # pop+reinsert = LRU touch
                        digests[d] = s
                    else:
                        s = "~"
                else:
                    digests.pop(d, None)
                    digests[d] = s
                    if len(digests) > digest_cap:
                        digests.pop(next(iter(digests)))
                wp = rs % sws
                rs += 1
                if s != prev:
                    prev = s
                    us += 1
                    uw += 1
                if ring[wp] != ring[wp - sws + 1]:
                    uw -= 1
                ring[wp] = s
                last_ts = ts

        state.update((digests, ring, rs, us, uw, prev))
        if rs:
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "last_ts": [last_ts],
                    "rs": [rs],
                    "chaos": [us / rs],
                    "chaosn": [uw / min(sws, rs)],
                }
            )

    return (
        stream.groupBy("url")
        .applyInPandasWithState(
            chaos_state_fn,
            outputStructType=CHAOS_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def events_capture_stream(spark, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events table as a capture stream
    (one-shot batch of files driven by processAllAvailable in tests).

    readStream requires an explicit schema, but the testdata's physical
    ``ts`` layout has changed across driver builds (INT64 TIMESTAMP(NANOS)
    vs proper ``timestamp[us]``). Rather than hardcode one layout, borrow
    the schema from a batch read of the same file (a footer-only read at
    stream-definition time — no data scan) and normalize ``ts`` with the
    same rule :func:`~trendmachine_spark.sources.tables.load_table` uses,
    so stream and batch can never disagree on event_time again.
    """
    from trendmachine_spark.sources.captures import EVENT_STATUS
    from trendmachine_spark.sources.tables import configure

    configure(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the filter must match ONLY event files — a bare directory would
    # pull every table's parquet in with mismatched (all-null) schemas.
    # 'events*' (not the literal name): a live ingest dir receives NEW
    # files (events_0001.parquet, ...) — the file source tracks
    # processed paths in the checkpoint, so appends must arrive under
    # fresh names (exercised by the checkpoint-restart test)
    e = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema)["ts"]
    if ts_type == "bigint":  # legacy nanos layout
        event_time = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        event_time = F.col("ts").cast("timestamp")
    status = F.lit(None).cast("string")
    for k, v in EVENT_STATUS.items():
        status = F.when(F.col("event_type") == k, F.lit(v)).otherwise(status)
    return e.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("url"),
        event_time.alias("event_time"),
        F.coalesce(status, F.col("event_type")).alias("status"),
        F.concat(F.lit("DG"), F.regexp_extract("props", "[0-9]+", 0), F.lit("000000")).alias("digest"),
    )


RES_STATE_SCHEMA = (
    "digests map<string,string>, cur_day string, cur_pr int, cur_spec string, "
    "base double, scale double, h double, x bigint, prev string, closed boolean"
)
RES_OUT_SCHEMA = "url string, day string, specimen string, resilience double"


def resilience_scores_stream(stream: DataFrame, sigparams=None,
                             digest_cap: int = DIGEST_CAP,
                             watermark: str = "1 day",
                             state_ttl_sec: int | None = None) -> DataFrame:
    """Streaming O34: per-url resilience emitted at each day close.

    State carries the revisit digest map, the open day's best specimen
    (priority + first-capture-wins, O20), and the recurrence registers
    (base/scale/h/x/prev). When a capture for a later day arrives, the
    operator closes the open day, synthesizes any interior missing days
    as '~' (the reference's dense-spine iteration, O31, done lazily),
    scores them, and emits one row per closed day.

    The still-open day additionally closes by EVENT-TIME TIMEOUT: each
    key arms a timer at its open day's end, and once the stream's
    watermark (``watermark`` behind max event time) passes it with no
    newer capture, the day is scored and emitted — so a url that goes
    quiet still surfaces its final day, batch-equivalent. A ``closed``
    flag in state makes the flush idempotent: a later capture resumes
    the spine from the flushed day without re-scoring it (late events
    for an already-flushed day are dropped, standard watermark
    semantics). Flushed keys retain their ~few-hundred-byte recurrence
    state so a revival continues the exact series; ``state_ttl_sec``
    (None = keep forever) bounds total state at 100 TB url churn: after
    a flush, a GC timer is armed at watermark + ttl, and if the url
    stays quiet that long its state is REMOVED — a later revival then
    restarts the recurrence from the 0.5 priors (documented divergence
    from batch, which remembers all history; test-pinned). ``digest_cap``:
    LRU bound on the digest map (see chaos_scores_stream — same
    eviction rule and divergence note).
    """
    from trendmachine_spark.params import DEFAULT_SIGPARAMS, SigmoidParam

    params = {}
    for k, v in (sigparams or DEFAULT_SIGPARAMS).items():
        params[k] = v.as_tuple() if isinstance(v, SigmoidParam) else tuple(v)
    priority = {"2xx": 4, "4xx": 3, "5xx": 2, "3xx": 1}

    def state_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math
        from datetime import date, datetime, time, timedelta, timezone

        if state.exists:
            (digests, cur_day, cur_pr, cur_spec,
             base, scale, h, x, prev, closed) = state.get
            digests = dict(digests)
        else:
            digests, cur_day, cur_spec = {}, None, "~"
            cur_pr = -1
            base = scale = h = 0.5
            x = 0
            prev = "~"
            closed = False

        out_rows = []

        def score_day(day_str, spec):
            nonlocal base, scale, h, x, prev
            p = params.get(spec) or params["~"]
            if spec != prev:
                base = h
                scale = base if p[2] < 0 else 1.0 - base
                prev = spec
                x = 0
            x += 1
            h = base + scale * (p[2] / (1.0 + math.exp(p[0] - x / p[1])))
            out_rows.append((key[0], day_str, spec, h))

        def finish():
            state.update((digests, cur_day, cur_pr, cur_spec,
                          base, scale, h, x, prev, closed))
            if cur_day is not None and not closed:
                nxt = date.fromisoformat(cur_day) + timedelta(days=1)
                end_ms = int(datetime.combine(
                    nxt, time.min, tzinfo=timezone.utc).timestamp() * 1000)
                # timers must be strictly ahead of the current watermark
                state.setTimeoutTimestamp(
                    max(end_ms, state.getCurrentWatermarkMs() + 1))
            elif closed and state_ttl_sec is not None:
                # idle-key GC: drop this url's state if it stays quiet
                # a full TTL past the flush
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + state_ttl_sec * 1000)
            if out_rows:
                yield pd.DataFrame(
                    out_rows, columns=["url", "day", "specimen", "resilience"])

        if state.hasTimedOut:
            if cur_day is not None and not closed:
                # watermark passed the open day's end with no newer
                # capture: close it, then (if a TTL is set) arm the GC
                # timer — finish() handles both because closed is True
                score_day(cur_day, cur_spec if cur_spec in params else "~")
                closed = True
                yield from finish()
            else:
                # the GC timer (only armed when state_ttl_sec is set):
                # the url stayed quiet a full TTL past its flush
                state.remove()
            return

        def close_through(next_day_str):
            # close the open day, then synthesize '~' days up to next_day
            nonlocal cur_day, cur_pr, cur_spec, closed
            if cur_day is None:
                cur_day = next_day_str
                cur_pr = -1
                cur_spec = "~"
                closed = False
                return
            if next_day_str == cur_day:
                return
            if not closed:
                score_day(cur_day, cur_spec if cur_spec in params else "~")
            d = date.fromisoformat(cur_day) + timedelta(days=1)
            end = date.fromisoformat(next_day_str)
            while d < end:
                score_day(d.isoformat(), "~")
                d += timedelta(days=1)
            cur_day = next_day_str
            cur_pr = -1
            cur_spec = "~"
            closed = False

        for pdf in pdfs:
            pdf = pdf.sort_values("event_time", kind="mergesort")
            for s, dg, ts in zip(pdf["status"], pdf["digest"], pdf["event_time"]):
                s = s[:1] + "xx" if "200" <= s <= "599" else s
                if s == "-":
                    if dg in digests:
                        s = digests.pop(dg)  # pop+reinsert = LRU touch
                        digests[dg] = s
                    else:
                        s = "~"
                else:
                    digests.pop(dg, None)
                    digests[dg] = s
                    if len(digests) > digest_cap:
                        digests.pop(next(iter(digests)))
                day_str = ts.strftime("%Y-%m-%d")
                close_through(day_str)
                pr = priority.get(s, 0)
                if pr > cur_pr:
                    cur_spec = s
                    cur_pr = pr

        yield from finish()

    return stream.withWatermark("event_time", watermark).groupBy("url").applyInPandasWithState(
        state_fn,
        outputStructType=RES_OUT_SCHEMA,
        stateStructType=RES_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
