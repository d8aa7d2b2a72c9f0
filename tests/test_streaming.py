"""Streaming variant smoke + semantics (SURVEY.md M5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trendmachine_spark.streaming.capture_stream import (
    chaos_scores_stream,
    daily_capture_counts,
    events_capture_stream,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_streaming_daily_counts_matches_batch(spark):
    stream = events_capture_stream(spark, SF)
    assert stream.isStreaming
    # complete mode: append would withhold the final (still-open) day's
    # window, since the watermark never passes the stream's max event time
    _run_to_memory(daily_capture_counts(stream), "daily_counts", "complete")
    got = spark.sql(
        "SELECT sum(_2xx) a, sum(_3xx) b, sum(_4xx) c, sum(_5xx) d, sum(n_captures) n FROM daily_counts"
    ).collect()[0]

    # batch reference with the SAME semantics: the windowed agg counts
    # raw classes per capture (revisit '-' rows are outside 2xx..5xx —
    # cross-row resolution lives in the stateful operator instead)
    from trendmachine_spark.functions.scalars import status_class
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, SF)
    cls = status_class("status")
    want = caps.agg(
        F.sum((cls == "2xx").cast("long")).alias("a"),
        F.sum((cls == "3xx").cast("long")).alias("b"),
        F.sum((cls == "4xx").cast("long")).alias("c"),
        F.sum((cls == "5xx").cast("long")).alias("d"),
    ).collect()[0]
    for k in "abcd":
        assert got[k] == want[k], k
    assert got["n"] == 1000


def test_streaming_chaos_state_matches_batch_final(spark):
    stream = events_capture_stream(spark, SF)
    _run_to_memory(chaos_scores_stream(stream), "chaos_stream", "append")
    got = {
        r["url"]: r for r in spark.sql(
            "SELECT * FROM chaos_stream"
        ).collect()
    }
    # batch final chaos per url = last day's closing value
    from trendmachine_spark.operators.normalize import normalize_captures
    from trendmachine_spark.operators.rollup import daily_rollup
    from trendmachine_spark.sources.captures import events_as_captures

    batch = daily_rollup(normalize_captures(events_as_captures(spark, SF)))
    final = batch.groupBy("url").agg(
        F.max_by("chaos", "day").alias("chaos"),
        F.max_by("chaosn", "day").alias("chaosn"),
        F.sum("all").alias("n_classified"),
    )
    for r in final.collect():
        assert r["url"] in got
        assert got[r["url"]]["chaos"] == pytest.approx(r["chaos"], abs=1e-12), r["url"]
        assert got[r["url"]]["chaosn"] == pytest.approx(r["chaosn"], abs=1e-12), r["url"]


def test_streaming_resilience_matches_batch_closed_days(spark):
    from trendmachine_spark.streaming.capture_stream import resilience_scores_stream

    stream = events_capture_stream(spark, SF)
    _run_to_memory(resilience_scores_stream(stream), "res_stream", "append")
    got = {
        (r["url"], r["day"]): (r["specimen"], r["resilience"])
        for r in spark.sql("SELECT * FROM res_stream").collect()
    }

    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, SF)
    batch = daily_series(caps, fill=0)
    last_observed = {
        r["url"]: r["mx"]
        for r in batch.filter(F.col("All") != 0)
        .groupBy("url").agg(F.max("Day").alias("mx")).collect()
    }
    checked = 0
    for r in batch.collect():
        if r["Day"] >= last_observed[r["url"]]:
            continue  # the open day + trailing spine are not yet closed in streaming
        key = (r["url"], r["Day"])
        assert key in got, key
        spec = r["Specimen"] if r["Specimen"] in ("2xx", "3xx", "4xx", "5xx", "~") else "~"
        assert got[key][0] == spec, key
        assert got[key][1] == pytest.approx(r["Resilience"], abs=1e-12), key
        checked += 1
    assert checked > 300


def test_streaming_scored_matches_batch_closed_days(spark):
    from trendmachine_spark.streaming.scored_stream import scored_daily_stream

    stream = events_capture_stream(spark, SF)
    _run_to_memory(scored_daily_stream(stream), "scored_stream", "append")
    got = {
        (r["url"], r["day"]): r
        for r in spark.sql("SELECT * FROM scored_stream").collect()
    }

    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, SF)
    batch = daily_series(caps, fill=0)
    last_observed = {
        r["url"]: r["mx"]
        for r in batch.filter(F.col("All") != 0)
        .groupBy("url").agg(F.max("Day").alias("mx")).collect()
    }
    checked = 0
    for r in batch.collect():
        if r["Day"] >= last_observed[r["url"]]:
            continue
        g = got[(r["url"], r["Day"])]
        assert g["content"] == r["Content"], (r["url"], r["Day"])
        assert g["resilience"] == pytest.approx(r["Resilience"], abs=1e-12)
        assert g["fixity"] == pytest.approx(r["Fixity"], abs=1e-12)
        checked += 1
    assert checked > 300


def test_streaming_digest_cap_lru(spark, tmp_path):
    """Bounded digest state: with an LRU cap the stream still closes the
    same days; a revisit whose digest was evicted resolves to '~'."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trendmachine_spark.streaming.scored_stream import scored_daily_stream

    def nanos(day):
        return int(pd.Timestamp(f"2024-01-0{day} 01:00:00").value)

    rows = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, 4], dtype="int64"),
            "ts": pd.array([nanos(1), nanos(2), nanos(3), nanos(4)], dtype="int64"),
            "user_id": pd.array([7, 7, 7, 7], dtype="int64"),
            # click->200 (DG1), purchase->404 (DG2), signup->'-' revisit
            # of DG1, click closes day 3
            "event_type": ["click", "purchase", "signup", "click"],
            "value": [0.0, 0.0, 0.0, 0.0],
            "props": ["n1x", "n2x", "n1x", "n3x"],
        }
    )
    pq.write_table(pa.Table.from_pandas(rows), str(tmp_path / "events.parquet"))

    out = {}
    for name, cap in (("lru_big", 8), ("lru_one", 1)):
        stream = events_capture_stream(spark, str(tmp_path))
        _run_to_memory(scored_daily_stream(stream, digest_cap=cap), name, "append")
        out[name] = {
            r["day"]: r["specimen"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    closed = {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert set(out["lru_big"]) == set(out["lru_one"]) == closed
    # retained digest: the day-3 revisit resolves to its original class
    assert out["lru_big"]["2024-01-03"] == "2xx"
    # cap=1: inserting DG2 evicted DG1 -> the revisit is unresolved
    assert out["lru_one"]["2024-01-03"] == "~"


def test_streaming_dedup_matches_batch_distinct(spark):
    """Ingest dedup: one survivor per digest, same digest set as batch
    DISTINCT; unbounded variant identical on a closed stream."""
    from trendmachine_spark.streaming.dedup_stream import dedup_stream
    from trendmachine_spark.sources.captures import events_as_captures

    for name, horizon in (("dedup_wm", "2 days"), ("dedup_exactly", None)):
        stream = events_capture_stream(spark, SF)
        _run_to_memory(dedup_stream(stream, horizon=horizon), name, "append")
        got = spark.sql(f"SELECT digest, count(*) c FROM {name} GROUP BY digest").collect()
        assert all(r["c"] == 1 for r in got)
        want = {
            r["digest"]
            for r in events_as_captures(spark, SF).select("digest").distinct().collect()
        }
        assert {r["digest"] for r in got} == want


def test_streaming_final_day_flushes_on_watermark(spark, tmp_path):
    """Event-time timeout: a url that goes quiet still emits its final
    open day once the watermark (driven by other traffic) passes the
    day's end — values batch-equivalent at 1e-12. A url whose open day
    the watermark has NOT passed stays open (no premature emission)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trendmachine_spark.streaming.capture_stream import resilience_scores_stream
    from trendmachine_spark.streaming.scored_stream import scored_daily_stream

    def us(day_ts):
        return pd.Timestamp(day_ts)

    rows = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            # user-7 active Jan 1-3 then quiet; user-9's Jan 20 event
            # advances the watermark past user-7's open day
            "ts": pa.array(
                [us("2024-01-01 01:00:00"), us("2024-01-02 01:00:00"),
                 us("2024-01-03 01:00:00"), us("2024-01-20 01:00:00")],
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([7, 7, 7, 9], type=pa.int64()),
            "event_type": ["click", "purchase", "click", "click"],
            "value": [0.0, 0.0, 0.0, 0.0],
            "props": ["n1x", "n2x", "n3x", "n4x"],
        }
    )
    pq.write_table(rows, str(tmp_path / "events.parquet"))

    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    batch = {
        (r["url"], r["Day"]): r
        for r in daily_series(
            events_as_captures(spark, str(tmp_path)), fill=0
        ).collect()
    }

    for name, build in (
        ("flush_res", resilience_scores_stream),
        ("flush_scored", scored_daily_stream),
    ):
        stream = events_capture_stream(spark, str(tmp_path))
        _run_to_memory(build(stream), name, "append")
        got = {
            (r["url"], r["day"]): r
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        # final day 2024-01-03 closed by TIMEOUT (no later user-7 event)
        assert set(got) == {
            ("user-7", "2024-01-01"), ("user-7", "2024-01-02"),
            ("user-7", "2024-01-03"),
        }, name
        for k, g in got.items():
            assert g["resilience"] == pytest.approx(
                batch[k]["Resilience"], abs=1e-12), (name, k)
        if name == "flush_scored":
            for k, g in got.items():
                assert g["fixity"] == pytest.approx(
                    batch[k]["Fixity"], abs=1e-12), k
                assert g["content"] == batch[k]["Content"], k


def test_tws_resilience_equivalent_to_applyinpandaswithstate(spark):
    """The transformWithStateInPandas port emits exactly the same
    (url, day) -> (specimen, resilience) set as the
    applyInPandasWithState implementation, including timer-flushed
    final days. Skips where the TWS runtime can't start (its state
    server needs the protobuf package, absent in this sandbox)."""
    from trendmachine_spark.streaming.capture_stream import resilience_scores_stream
    from trendmachine_spark.streaming.tws_stream import (
        resilience_scores_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithState runtime unavailable (no protobuf)")

    # transformWithState scopes each state variable to its own column
    # family, which the default HDFS-backed store rejects — both twins
    # run under RocksDB (bundled rocksdbjni) for symmetric conditions
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = {}
        for name, build in (("eq_v1", resilience_scores_stream),
                            ("eq_v2", resilience_scores_tws)):
            stream = events_capture_stream(spark, SF)
            _run_to_memory(build(stream), name, "append")
            out[name] = {
                (r["url"], r["day"]): (r["specimen"], r["resilience"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    assert len(out["eq_v1"]) > 300
    assert set(out["eq_v1"]) == set(out["eq_v2"])
    for k, (spec, res) in out["eq_v1"].items():
        assert out["eq_v2"][k][0] == spec, k
        assert out["eq_v2"][k][1] == pytest.approx(res, abs=1e-12), k


def test_tws_processor_state_machine_matches_batch(spark):
    """Drive the TWS processor class directly with fake handle/timer
    objects (the runtime needs protobuf, absent here) — per-batch
    ingest + a day-close timer expiry must reproduce the batch engine's
    resilience series exactly, and a stale timer (armed for a
    superseded day) must be ignored."""
    import pandas as pd

    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures
    from trendmachine_spark.streaming.tws_stream import make_resilience_processor

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()
            self.timers = []

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

        def registerTimer(self, ms):
            self.timers.append(ms)

    class FakeTimerValues:
        def __init__(self, wm):
            self.wm = wm

        def getCurrentWatermarkInMs(self):
            return self.wm

    class FakeExpired:
        def __init__(self, ms):
            self.ms = ms

        def getExpiryTimeInMs(self):
            return self.ms

    caps = events_as_captures(spark, SF)
    batch = {
        (r["url"], r["Day"]): r
        for r in daily_series(caps, fill=0).collect()
    }
    url = "user-3"
    # batch twin of events_capture_stream's projection (a streaming DF
    # can't be collected)
    from trendmachine_spark.sources.captures import EVENT_STATUS
    from trendmachine_spark.sources.tables import load_table

    e = load_table(spark, SF, "events")
    status = F.lit(None).cast("string")
    for k, v in EVENT_STATUS.items():
        status = F.when(F.col("event_type") == k, F.lit(v)).otherwise(status)
    rows = (
        e.select(
            F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("url"),
            F.col("ts").cast("timestamp").alias("event_time"),
            F.coalesce(status, F.col("event_type")).alias("status"),
            F.concat(F.lit("DG"), F.regexp_extract("props", "[0-9]+", 0),
                     F.lit("000000")).alias("digest"),
        )
        .filter(F.col("url") == url)
        .orderBy("event_time")
        .toPandas()
    )
    assert len(rows) > 50

    proc = make_resilience_processor()()
    handle = FakeHandle()
    proc.init(handle)
    got = []
    # feed in 3 chronological chunks (micro-batches)
    for chunk in (rows.iloc[:20], rows.iloc[20:40], rows.iloc[40:]):
        for pdf in proc.handleInputRows((url,), iter([chunk]), FakeTimerValues(0)):
            got.append(pdf)
    # stale timer: armed for an old day, must not close the current one
    n_before = sum(len(p) for p in got)
    assert list(proc.handleExpiredTimer((url,), FakeTimerValues(0), FakeExpired(0))) == []
    assert sum(len(p) for p in got) == n_before
    # real expiry at the armed timestamp closes the final open day
    assert handle.timers
    for pdf in proc.handleExpiredTimer(
        (url,), FakeTimerValues(handle.timers[-1]), FakeExpired(handle.timers[-1])
    ):
        got.append(pdf)
    out = pd.concat(got, ignore_index=True)

    last_day = max(d for (u, d) in batch if u == url)
    want = {d: batch[(url, d)] for (u, d) in batch if u == url}
    assert set(out["day"]) == set(want), "streamed days != batch spine days"
    assert last_day in set(out["day"]), "timer flush missing the final day"
    for _, r in out.iterrows():
        b = want[r["day"]]
        spec = b["Specimen"] if b["Specimen"] in ("2xx", "3xx", "4xx", "5xx", "~") else "~"
        assert r["specimen"] == spec, r["day"]
        assert r["resilience"] == pytest.approx(b["Resilience"], abs=1e-12), r["day"]


def test_streaming_state_survives_checkpoint_restart(spark, tmp_path):
    """Recovery semantics: run the resilience stream over an initial
    file with a checkpoint, stop, add a later file, restart from the
    SAME checkpoint — the per-url digest/recurrence state must carry
    across the restart, and the union of both runs' emissions must
    equal the batch series over the combined input (no re-emission of
    already-closed days, no gap)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trendmachine_spark.streaming.capture_stream import resilience_scores_stream

    events_dir = tmp_path / "events_src"
    events_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "ts": pa.array([pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": [0.0] * len(rows),
            "props": [r[4] for r in rows],
        })
        pq.write_table(t, str(events_dir / name))

    # first batch of files: days 1-3 for user 7 (click=200, purchase=404)
    write_file("events.parquet", [
        (1, "2024-01-01 01:00:00", 7, "click", "n1x"),
        (2, "2024-01-02 01:00:00", 7, "purchase", "n2x"),
        (3, "2024-01-03 01:00:00", 7, "click", "n1x"),
    ])

    out_dir = str(tmp_path / "out")

    def run_once():
        # file sink, not memory: only exactly-once sinks support
        # restarting from a checkpoint
        stream = events_capture_stream(spark, str(events_dir))
        q = (
            resilience_scores_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(out_dir).collect()

    first = run_once()
    days1 = {r["day"] for r in first}
    assert days1 == {"2024-01-01", "2024-01-02"}  # day 3 still open

    # a later file arrives under a NEW name while the query is DOWN
    # (the file source tracks processed paths in the checkpoint);
    # restart from the same checkpoint
    write_file("events_0002.parquet", [
        (4, "2024-01-06 01:00:00", 7, "click", "n3x"),
    ])
    combined = run_once()

    # the restarted run must emit ONLY the newly-closed days (3,4,5) —
    # state carried across the restart: days 1-2 NOT re-emitted (their
    # rows appear exactly once in the sink), no day skipped
    days_all = sorted(r["day"] for r in combined)
    assert days_all == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05",
    ], days_all
    second = [r for r in combined if r["day"] not in days1]

    # union equals the batch series over the COMBINED input (both files)
    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import EVENT_STATUS

    e = spark.read.parquet(str(events_dir))
    status = F.lit(None).cast("string")
    for k, v in EVENT_STATUS.items():
        status = F.when(F.col("event_type") == k, F.lit(v)).otherwise(status)
    caps = e.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("url"),
        F.col("event_id").alias("seq"),
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts"),
        F.coalesce(status, F.col("event_type")).alias("status"),
        F.concat(F.lit("DG"), F.regexp_extract("props", "[0-9]+", 0),
                 F.lit("000000")).alias("digest"),
    )
    batch = {
        r["Day"]: r
        for r in daily_series(caps, fill=0)
        .filter(F.col("Day") < "2024-01-06").collect()
    }
    got = {r["day"]: r for r in [*first, *second]}
    assert set(got) == set(batch)
    for d, r in got.items():
        assert r["resilience"] == pytest.approx(batch[d]["Resilience"], abs=1e-12), d


def test_streaming_state_ttl_gc(spark, tmp_path):
    """Idle-key GC: with state_ttl_sec set, a url quiet a full TTL past
    its flush has its state REMOVED — a later revival restarts the
    recurrence at the 0.5 priors with no interior '~' spine (the
    documented divergence from infinite-memory batch)."""
    import math

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trendmachine_spark.params import DEFAULT_SIGPARAMS
    from trendmachine_spark.streaming.capture_stream import resilience_scores_stream

    events_dir = tmp_path / "src"
    events_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def write_file(name, rows):
        t = pa.table({
            "event_id": pa.array(list(range(len(rows))), type=pa.int64()),
            "ts": pa.array([pd.Timestamp(r[0]) for r in rows], type=pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], type=pa.int64()),
            "event_type": [r[2] for r in rows],
            "value": [0.0] * len(rows),
            "props": ["n1x"] * len(rows),
        })
        pq.write_table(t, str(events_dir / name))

    def run_once():
        stream = events_capture_stream(spark, str(events_dir))
        q = (
            resilience_scores_stream(stream, state_ttl_sec=86400)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # run 1: url A (user 7) active Jan 1-3, then quiet; B drives the
    # watermark to Jan 19 -> A's Jan 3 flushes, GC timer arms at Jan 20
    write_file("events.parquet", [
        ("2024-01-01 01:00:00", 7, "click"),
        ("2024-01-02 01:00:00", 7, "click"),
        ("2024-01-03 01:00:00", 7, "click"),
        ("2024-01-20 01:00:00", 9, "click"),
    ])
    run_once()
    # run 2: B again -> watermark Feb 9 passes A's GC time -> A removed
    write_file("events_0002.parquet", [("2024-02-10 01:00:00", 9, "click")])
    run_once()
    # run 3: A revives; B's later event closes A's revived day via flush
    write_file("events_0003.parquet", [
        ("2024-02-12 01:00:00", 7, "click"),
        ("2024-02-14 01:00:00", 9, "click"),
    ])
    run_once()

    a_rows = {r["day"]: r for r in spark.read.parquet(out_dir).collect()
              if r["url"] == "user-7"}
    # NO interior '~' days between Jan 3 and Feb 12: the state was
    # dropped, so the revival opens fresh instead of synthesizing the
    # 40-day gap a retained state would have scored
    assert set(a_rows) == {"2024-01-01", "2024-01-02", "2024-01-03",
                           "2024-02-12"}, sorted(a_rows)
    # the revived day scores from the 0.5 priors, x=1
    p = DEFAULT_SIGPARAMS["2xx"].as_tuple()
    fresh = 0.5 + 0.5 * (p[2] / (1.0 + math.exp(p[0] - 1.0 / p[1])))
    assert a_rows["2024-02-12"]["resilience"] == pytest.approx(fresh, abs=1e-12)
    # and it does NOT continue the retained-state series (which would
    # have decayed through 40 '~' days first)
    assert a_rows["2024-01-03"]["resilience"] != pytest.approx(fresh, abs=1e-9)


def test_stateless_corpus_ops_run_on_streams(spark):
    """The round-3 stateless corpus operators (chunker as witness) are
    streaming-ready as-is: a pure-projection plan applies unchanged to
    a readStream source and emits exactly the batch rows."""
    from trendmachine_spark.extensions.text import chunk_documents
    from trendmachine_spark.sources.tables import configure, load_table

    configure(spark)
    batch_docs = load_table(spark, SF, "documents")
    schema = spark.read.parquet(f"{SF}/documents.parquet").schema
    stream_docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(SF)
    )
    chunked = chunk_documents(stream_docs, chunk_words=32, overlap=8)
    assert chunked.isStreaming
    _run_to_memory(chunked, "chunked_stream", "append")
    got = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in spark.sql("SELECT * FROM chunked_stream").collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(batch_docs, chunk_words=32, overlap=8).collect()
    }
    assert got == want and got


def test_streaming_funnel_matches_batch_across_batches(spark, tmp_path):
    """Streaming funnel == batch funnel when per-user events arrive in
    time order across micro-batches (the documented equivalence
    contract): step chaining must carry through keyed state, including
    a purchase whose qualifying click arrived in an earlier batch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trendmachine_spark.operators.funnel import event_funnel
    from trendmachine_spark.streaming.funnel_stream import (
        events_raw_stream,
        funnel_stream,
    )

    events_dir = tmp_path / "funnel_src"
    events_dir.mkdir()

    def write_file(name, rows):
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "ts": pa.array([pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": [0.0] * len(rows),
            "props": ["p"] * len(rows),
        })
        pq.write_table(t, str(events_dir / name))

    # batch 1 (early half)
    write_file("events.parquet", [
        (1, "2024-01-01 09:00:00", 1, "view", None),
        (2, "2024-01-02 09:00:00", 1, "click", None),
        (3, "2024-01-01 08:00:00", 2, "purchase", None),  # before any view
        (4, "2024-01-02 08:00:00", 2, "view", None),
        (5, "2024-01-01 07:00:00", 3, "view", None),
        (6, "2024-01-01 06:00:00", 4, "click", None),     # click pre-view
    ])

    stream = funnel_stream(events_raw_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("funnel_stream_mem")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()

    # batch 2 (later half) — chaining must cross the batch boundary
    write_file("events_0002.parquet", [
        (7, "2024-01-03 09:00:00", 1, "purchase", None),  # completes funnel
        (8, "2024-01-03 08:00:00", 2, "click", None),     # click after view
        (9, "2024-01-04 08:00:00", 4, "view", None),      # view at last
    ])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM funnel_stream_mem").collect()
    latest = {}
    for r in rows:
        if r["user_id"] not in latest or r["ver"] > latest[r["user_id"]]["ver"]:
            latest[r["user_id"]] = r

    batch = {
        r["user_id"]: r
        for r in event_funnel(spark.read.parquet(str(events_dir))).collect()
    }
    assert set(latest) == set(batch)
    for uid, b in batch.items():
        s = latest[uid]
        for c in ("t_view", "t_click", "t_purchase", "steps_reached"):
            assert s[c] == b[c], (uid, c, s[c], b[c])
    # spot-check the cross-batch chain: user 1 fully converted
    assert latest[1]["steps_reached"] == 3
    # user 2's early purchase never counts; view->click chain does
    assert latest[2]["steps_reached"] == 2 and latest[2]["t_purchase"] is None


def test_streaming_session_windows_match_batch_closed_subset(spark):
    """Native session_window on a stream (append mode, 1-day watermark)
    emits exactly the batch sessions whose window closed before the
    final watermark — same operator, same values, streaming semantics
    only withholding still-open tail sessions."""
    from trendmachine_spark.registry import QUERIES, clear_cache

    clear_cache()
    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in QUERIES["session_windows_streaming"].builder(spark, SF).collect()
    }
    batch = QUERIES["event_session_windows"].builder(spark, SF).collect()
    max_et = max(r["end_us"] - 1800 * 1_000_000 for r in batch)  # last event time
    horizon = max_et - 24 * 3600 * 1_000_000                     # watermark: max - 1 day
    want_closed = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in batch
        if r["end_us"] < horizon
    }
    # every watermark-closed batch session is emitted with identical
    # values, and nothing is emitted that batch doesn't have
    assert want_closed <= got
    all_batch = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"]) for r in batch
    }
    assert got <= all_batch
    assert got


def test_streaming_video_dedup_matches_batch_families(spark):
    """r11 streaming video dedup: one survivor per chain signature,
    signature set identical to the batch family report's, and the
    batch in-worker signature (video_clip_signature) byte-matches the
    historical agg form on the same corpus."""
    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.multimodal import (
        family_report,
        synthetic_video_assets,
        video_clip_signature,
        video_frame_signature,
    )
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    batch = family_report(
        video_clip_signature(synthetic_video_assets(docs)), "video_sig")
    want = {r["video_sig"] for r in batch.select("video_sig").distinct().collect()}

    # agg-form equivalence: md5 of the same '|'-joined chain
    agg = (
        video_frame_signature(synthetic_video_assets(docs))
        .groupBy("doc_id")
        .agg(F.md5(F.concat_ws("|", F.transform(
            F.array_sort(F.collect_list(F.struct("sample_ord", "frame_md5"))),
            lambda x: x.frame_md5))).alias("video_sig"))
    )
    assert (
        {(r["doc_id"], r["video_sig"]) for r in agg.collect()}
        == {(r["doc_id"], r["video_sig"])
            for r in batch.select("doc_id", "video_sig").collect()}
    )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(SF)
    )
    sigs = video_clip_signature(synthetic_video_assets(stream)).withColumn(
        "event_time", F.lit("2020-01-01 00:00:00").cast("timestamp"))
    _run_to_memory(
        sigs.withWatermark("event_time", "1 day")
        .dropDuplicatesWithinWatermark(["video_sig"]),
        "video_dedup_stream", "append")
    got = spark.sql(
        "SELECT video_sig, count(*) c FROM video_dedup_stream GROUP BY video_sig"
    ).collect()
    assert all(r["c"] == 1 for r in got)
    assert {r["video_sig"] for r in got} == want


def test_ann_serve_streaming_matches_batch_index_serve(spark):
    """Round 14: the streaming serve answers a query stream against
    the frozen at-rest IVFPQ index via foreachBatch running the batch
    serve path — streamed answers must be bit-identical to the batch
    at-rest serve (same index, same probe semantics, wire-quantized
    queries)."""
    from trendmachine_spark.registry import QUERIES

    got = {tuple(r) for r in
           QUERIES["ann_serve_streaming"].builder(spark, SF).collect()}
    want = {tuple(r) for r in
           QUERIES["similarity_ivfpq_index"].builder(spark, SF).collect()}
    assert got == want and got
