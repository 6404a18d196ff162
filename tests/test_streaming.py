"""Streaming tick_time_since: drive a real Structured Streaming query
(parquet source -> stateful op -> memory sink) and check counter semantics
across micro-batches (state persistence)."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from views_transformation_library_spark.streaming.tick import tick_time_since_stream


def test_tick_stream_counts_and_resets(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: unit 1 events at t=1..3 (event at t=2); unit 2 all quiet
    pd.DataFrame(
        {"time_id": [1, 2, 3, 1, 2, 3], "unit_id": [1, 1, 1, 2, 2, 2],
         "event": [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]}
    ).to_parquet(src + "/b1.parquet")

    stream = (
        spark.readStream.schema("time_id long, unit_id long, event double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = tick_time_since_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tick_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 arrives later: counter must continue from batch-1 state
        pd.DataFrame(
            {"time_id": [4, 5], "unit_id": [1, 1], "event": [0.0, 0.0]}
        ).to_parquet(src + "/b2.parquet")
        q.processAllAvailable()
        rows = {
            (r["unit_id"], r["time_id"]): r["time_since"]
            for r in spark.sql("SELECT * FROM tick_out").collect()
        }
    finally:
        q.stop()

    # unit 1: t1 start 0; t2: prev 0 -> 1; t3: prev event -> 0;
    # t4 (new batch, state carried): prev 0-event -> 1; t5 -> 2
    assert rows[(1, 1)] == 0
    assert rows[(1, 2)] == 1
    assert rows[(1, 3)] == 0
    assert rows[(1, 4)] == 1
    assert rows[(1, 5)] == 2
    # unit 2: never an event -> monotone counter
    assert rows[(2, 1)] == 0 and rows[(2, 2)] == 1 and rows[(2, 3)] == 2


def test_dedup_stream(spark, tmp_path):
    import os

    import pandas as pd

    from views_transformation_library_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    os.makedirs(src)
    pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00"]
            ),
            "doc_id": [1, 2, 3],
            # doc 3 duplicates doc 1 up to whitespace/case
            "text": ["Hello  World", "fresh content", "hello world"],
        }
    ).to_parquet(src + "/a.parquet", coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").parquet(src)
    out = dedup_stream(stream, watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dedup_out").collect()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in rows)
    assert kept == [1, 2]  # doc 3 dropped as an exact dup of doc 1


def test_sessionize_stream(spark, tmp_path):
    import os

    import pandas as pd

    from views_transformation_library_spark.streaming.sessions import sessionize_stream

    src = str(tmp_path / "sess")
    os.makedirs(src)
    # batch 1: user 1 has two events 10 min apart (one open session);
    # user 2 one event
    pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:10", "2024-01-01 10:00"]
            ),
            "user_id": [1, 1, 2],
        }
    ).to_parquet(src + "/b1.parquet", coerce_timestamps="us",
                 allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing closed yet: both sessions are open, watermark at 10:00
        assert spark.sql("SELECT count(*) c FROM sess_out").collect()[0]["c"] == 0
        # batch 2: user 1 reappears at 12:00 — explicit gap closes their
        # first session; the watermark advance (11:50) times out user 2's
        # open session (deadline 10:30)
        pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 12:00"]), "user_id": [1]}
        ).to_parquet(src + "/b2.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)
        q.processAllAvailable()
        rows = {
            (r["user_id"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()
    assert rows[(1, "2024-01-01 10:00:00")] == ("2024-01-01 10:10:00", 2)
    assert rows[(2, "2024-01-01 10:00:00")] == ("2024-01-01 10:00:00", 1)
    # user 1's 12:00 session is still open (not emitted)
    assert len(rows) == 2


def test_sessionize_stream_out_of_order_event(spark, tmp_path):
    """An in-watermark event that PRECEDES the open session must split into
    its own earlier session (or lower the start), never be folded into a
    session that started after it."""
    import os

    import pandas as pd

    from views_transformation_library_spark.streaming.sessions import sessionize_stream

    src = str(tmp_path / "sess_ooo")
    os.makedirs(src)
    # watermark horizon (2h) far exceeds the gap (30m): late events stay
    # acceptable long after they could extend any open session
    pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:00"]), "user_id": [1]}
    ).to_parquet(src + "/b1.parquet", coerce_timestamps="us",
                 allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_ooo_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a 10:30 event for the same user — 1.5h BEFORE the open
        # session, inside the watermark horizon. It must become its own
        # session; 14:00 advances the watermark to 12:00, sealing the
        # 10:30 session (deadline 11:00) but NOT the 12:00 one (deadline
        # 12:30 — an in-watermark 12:20 event could still extend it)
        pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 10:30", "2024-01-01 14:00"]),
             "user_id": [1, 1]}
        ).to_parquet(src + "/b2.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)
        q.processAllAvailable()
        mid = sorted(
            (str(r["session_start"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sess_ooo_out").collect()
        )
        assert mid == [("2024-01-01 10:30:00", 1)]
        # batch 3: 16:00 pushes the watermark to 14:00 — now the 12:00
        # session seals; 14:00's own session stays open (deadline 14:30)
        pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 16:00"]), "user_id": [1]}
        ).to_parquet(src + "/b3.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)
        q.processAllAvailable()
        rows = sorted(
            (str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sess_ooo_out").collect()
        )
    finally:
        q.stop()
    assert ("2024-01-01 10:30:00", "2024-01-01 10:30:00", 1) in rows
    assert ("2024-01-01 12:00:00", "2024-01-01 12:00:00", 1) in rows
    # the 14:00 and 16:00 sessions are still open — not emitted
    assert len(rows) == 2


def test_sessionize_stream_batch_equivalence(spark, tmp_path):
    """VERDICT r3 #8: streamed sessionization == batch `sessionize` on the
    same parquet, across 4 real micro-batches with cross-batch
    out-of-order arrivals. A far-future flush event advances the watermark
    so EVERY real session closes; the closed-session stream must then be
    frame-equal (user, start, end, n_events) to the batch operator run
    over the identical files."""
    import numpy as np

    from views_transformation_library_spark.operators import relational
    from views_transformation_library_spark.streaming.sessions import sessionize_stream

    rng = np.random.RandomState(13)
    base = pd.Timestamp("2024-03-01 08:00:00")
    rows = []
    for user in range(1, 5):
        t_min = 0
        for _ in range(10):
            # mostly intra-session steps, sometimes a session-breaking gap
            t_min += int(rng.choice([2, 5, 7, 35, 50], p=[0.3, 0.25, 0.15, 0.15, 0.15]))
            rows.append((base + pd.Timedelta(minutes=t_min), user))
    rows.sort(key=lambda r: r[0])
    # three chronological files + cross-batch disorder: the first two
    # events of file2 are DEFERRED into file3 (late by less than the
    # 2-hour watermark, so the stream must merge them correctly)
    thirds = [rows[:13], rows[13:26], rows[26:]]
    late = thirds[1][:2]
    b2 = thirds[1][2:]
    b3 = late + thirds[2]
    src = str(tmp_path / "sess_eq")
    os.makedirs(src)
    for i, chunk in enumerate([thirds[0], b2, b3]):
        pd.DataFrame(
            {"ts": [c[0] for c in chunk], "user_id": [c[1] for c in chunk]}
        ).to_parquet(f"{src}/b{i+1}.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)
    # flush: one far-future event advances the watermark past every open
    # session's timeout deadline (its own session stays open, excluded)
    pd.DataFrame(
        {"ts": [base + pd.Timedelta(days=2)], "user_id": [999]}
    ).to_parquet(f"{src}/b4_flush.parquet", coerce_timestamps="us",
                 allow_truncated_timestamps=True)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_eq_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["user_id"], r["s"], r["e"], r["n_events"])
            for r in spark.sql(
                "SELECT user_id, unix_micros(session_start) AS s, "
                "unix_micros(session_end) AS e, n_events "
                "FROM sess_eq_out WHERE user_id != 999"
            ).collect()
        }
    finally:
        q.stop()

    from pyspark.sql import functions as F

    from views_transformation_library_spark import panel as P

    ev = spark.read.parquet(src).filter(F.col("user_id") != 999)
    batch = relational.sessionize(
        ev.select("user_id", P.epoch_micros(ev).alias("ts")),
        gap_minutes=30, ts_unit="us",
    )
    expected = {
        (r["unit_id"], r["start_tick"], r["end_tick"], r["n_events"])
        for r in batch.collect()
    }
    assert len(expected) >= 8  # the construction makes multiple sessions/user
    assert streamed == expected


def test_dedup_stream_batch_equivalence(spark, tmp_path):
    """Streamed exact dedup == batch dedup_keep over the same parquet when
    arrival order matches id order (streaming keeps first-arrival, batch
    keeps min-id — identical under ordered ingest, the normal case for an
    append-only corpus). 3 micro-batches with dups planted within AND
    across batches."""
    texts = {
        0: "alpha document body", 1: "beta content here", 2: "Alpha  Document BODY",
        3: "gamma text", 4: "beta content here", 5: "delta doc",
        6: "ALPHA document body", 7: "epsilon item", 8: "gamma  TEXT",
        9: "zeta final",
    }
    base = pd.Timestamp("2024-05-01 00:00:00")
    src = str(tmp_path / "dedup_eq")
    os.makedirs(src)
    ids = sorted(texts)
    for b in range(3):
        chunk = ids[b * 4:(b + 1) * 4]
        if not chunk:
            continue
        pd.DataFrame(
            {"ts": [base + pd.Timedelta(minutes=i) for i in chunk],
             "doc_id": chunk, "text": [texts[i] for i in chunk]}
        ).to_parquet(f"{src}/b{b}.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    from views_transformation_library_spark.streaming.dedup import dedup_stream

    stream = (
        spark.readStream.schema("ts timestamp, doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        dedup_stream(stream, watermark="1 day")
        .writeStream.format("memory").queryName("dedup_eq_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        streamed = sorted(
            r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_eq_out").collect()
        )
    finally:
        q.stop()

    from views_transformation_library_spark.operators import dedup

    batch = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep(spark.read.parquet(src)).collect()
    )
    # cross-batch dup (6 dups 0 across files) and in-batch dup (2 dups 0)
    # both dropped; equivalence exact under id-ordered arrival
    assert streamed == batch == [0, 1, 3, 5, 7, 9]


def test_sliding_sum_stream_batch_equivalence(spark, tmp_path):
    """Streamed sliding-window sums across micro-batches (including a
    late-but-in-watermark arrival) == one batch groupBy over the same
    files. Append mode only emits windows the watermark has CLOSED, so a
    far-future flush event forces every real window out."""
    import os

    import pandas as pd

    from views_transformation_library_spark.streaming.windows import (
        sliding_sum_stream,
    )

    src = str(tmp_path / "ev")
    os.makedirs(src)
    b1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 12:00", "2024-01-02 03:00"]
            ),
            "user_id": [1, 1, 2],
            "value": [1.0, 2.0, 4.0],
        }
    )
    b1.to_parquet(src + "/b1.parquet", coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sliding_sum_stream(
        stream, window="1 day", slide="12 hours", watermark="6 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: late event still inside the watermark, + flush event
        b2 = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-02 01:00", "2024-03-01 00:00"]),
                "user_id": [2, 99],
                "value": [8.0, 0.0],
            }
        )
        b2.to_parquet(src + "/b2.parquet", coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        q.processAllAvailable()
        streamed = {
            (r["unit_id"], r["window_start"]): (r["moving_sum"], r["n_events"])
            for r in spark.sql("SELECT * FROM slide_out").collect()
            if r["unit_id"] != 99
        }
    finally:
        q.stop()

    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(src)
        .filter(F.col("user_id") != 99)
        .groupBy(
            F.window("ts", "1 day", "12 hours").alias("__w"),
            F.col("user_id").alias("unit_id"),
        )
        .agg(F.sum("value").alias("moving_sum"), F.count("*").alias("n_events"))
        .select(F.col("__w.start").alias("window_start"), "unit_id",
                "moving_sum", "n_events")
    )
    expected = {
        (r["unit_id"], r["window_start"]): (r["moving_sum"], r["n_events"])
        for r in batch.collect()
    }
    assert streamed == expected
    # the late 01:00 event really landed in both its sliding windows
    assert sum(1 for (u, _) in expected if u == 2) >= 2


def test_minhash_candidates_stream_batch_equivalence(spark, tmp_path):
    """Streamed LSH candidates across micro-batches == the batch band
    collisions on the same corpus: every colliding (bucket, pair) is
    emitted exactly once whatever the arrival order, and an exact dup
    arriving in a LATER batch is caught against first-batch state."""
    import os

    import pandas as pd

    from views_transformation_library_spark.operators import dedup as bdedup
    from views_transformation_library_spark.streaming.dedup import (
        minhash_candidates_stream,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = str(tmp_path / "docs")
    os.makedirs(src)
    b1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
            "doc_id": [1, 2],
            "text": [base, "unrelated words entirely different content here now"],
        }
    )
    b1.to_parquet(src + "/b1.parquet", coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    stream = spark.readStream.schema(
        "ts timestamp, doc_id long, text string"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    out = minhash_candidates_stream(stream, n=2, n_hashes=12, bands=4)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_cand")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # doc 3 = exact copy of doc 1, arrives in a later micro-batch
        b2 = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 02:00"]),
                "doc_id": [3],
                "text": [base],
            }
        )
        b2.to_parquet(src + "/b2.parquet", coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        q.processAllAvailable()
        streamed = [
            (r["band"], r["a"], r["b"], r["est_jaccard"])
            for r in spark.sql("SELECT * FROM mh_cand").collect()
        ]
    finally:
        q.stop()

    # batch expectation: band collisions over the full corpus
    docs = spark.read.parquet(src)
    sh = bdedup._shingles(docs, "doc_id", "text", 2)
    sig = bdedup.minhash_signatures(sh, n_hashes=12)
    rows = {r["doc"]: [r[f"mh_{j}"] for j in range(12)] for r in sig.collect()}
    expected = set()
    r_width = 12 // 4
    for band in range(4):
        buckets = {}
        for doc, s in rows.items():
            key = tuple(s[band * r_width : (band + 1) * r_width])
            buckets.setdefault(key, []).append(doc)
        for key, ds in buckets.items():
            ds = sorted(ds)
            for i in range(len(ds)):
                for j in range(i + 1, len(ds)):
                    est = sum(
                        1 for u, v in zip(rows[ds[i]], rows[ds[j]]) if u == v
                    ) / 12
                    expected.add((band, ds[i], ds[j], est))
    assert set(streamed) == expected
    assert len(streamed) == len(expected)  # exactly-once per (band, pair)
    # the planted cross-batch dup really collided in every band
    assert sum(1 for (band, a, b, _) in expected if (a, b) == (1, 3)) == 4


def test_funnel_stream_batch_equivalence_out_of_order(spark, tmp_path):
    """Streamed funnel == batch funnel after every batch-boundary tricky
    case: a LATE step-1 event lowers t_1 and re-enables an EARLIER
    step-2 event that was previously ineligible."""
    import os

    import pandas as pd

    from views_transformation_library_spark.operators import relational
    from views_transformation_library_spark.streaming.funnel import funnel_stream

    src = str(tmp_path / "ev")
    os.makedirs(src)

    def _write(name, rows):
        pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows]),
                "user_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        ).to_parquet(f"{src}/{name}.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    # batch 1: user 1 does a@10:00, b@09:00 (b BEFORE a -> not eligible)
    _write("b1", [("2024-01-01 10:00", 1, "a"), ("2024-01-01 09:00", 1, "b")])
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    out = funnel_stream(stream, ["a", "b"], watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {r["user_id"]: r for r in spark.sql(
            "SELECT * FROM funnel_out").collect()}
        assert mid[1]["steps_reached"] == 1  # b@09:00 not after a@10:00
        # batch 2: LATE a@08:00 arrives -> t_1 drops, b@09:00 now eligible
        _write("b2", [("2024-01-01 08:00", 1, "a"), ("2024-01-01 11:00", 2, "a")])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM funnel_out ORDER BY user_id, steps_reached"
        ).collect()
    finally:
        q.stop()
    # latest update per user
    final = {}
    for r in rows:
        final[r["user_id"]] = r  # memory sink appends updates in order
    ev = spark.read.parquet(src)
    from pyspark.sql import functions as F
    batch = {
        r["unit_id"]: r
        for r in relational.funnel(
            ev.select("user_id", "event_type",
                      F.unix_micros(F.col("ts").cast("timestamp")).alias("__t")),
            ["a", "b"], ts_col="__t",
        ).collect()
    }
    for u, b in batch.items():
        f = final[u]
        assert f["steps_reached"] == b["steps_reached"]
        assert f["step_1_ts"] == b["step_1_ts"] and f["step_2_ts"] == b["step_2_ts"]
    assert batch[1]["steps_reached"] == 2  # the reopened chain really completed


def _drive_funnel(spark, tmp_path, name, ttl):
    from views_transformation_library_spark.streaming.funnel import funnel_stream

    src = str(tmp_path / f"src_{name}")
    os.makedirs(src)

    def write(i, rows):
        pd.DataFrame(
            {"user_id": [r[0] for r in rows],
             "ts": [pd.Timestamp(r[1]) for r in rows],
             "event_type": [r[2] for r in rows]}
        ).to_parquet(src + f"/b{i}.parquet", coerce_timestamps="us")

    write(1, [(1, "2020-01-01 00:00:00", "A")])
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = funnel_stream(stream, ["A", "B"], watermark="1 hour", state_ttl=ttl)
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        # other-user traffic marches the watermark far past user 1's TTL
        write(2, [(2, "2020-02-01 00:00:00", "A")])
        q.processAllAvailable()
        write(3, [(2, "2020-02-02 00:00:00", "A")])  # timers fire
        q.processAllAvailable()
        # user 1 returns IN-watermark: chains with old state only if kept
        write(4, [(1, "2020-02-02 01:00:00", "B")])
        q.processAllAvailable()
        return [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]
    finally:
        q.stop()


def test_funnel_stream_state_ttl_evicts_idle_users(spark, tmp_path):
    """state_ttl bounds per-user state: a user idle for TTL past the
    watermark is evicted, so their later step-B event starts a fresh
    funnel (no step-A memory). Without the TTL the same sequence
    completes the funnel from month-old state."""
    kept = _drive_funnel(spark, tmp_path, "funnel_nottl", None)
    assert any(r["user_id"] == 1 and r["steps_reached"] == 2 for r in kept)
    evicted = _drive_funnel(spark, tmp_path, "funnel_ttl", "1 hour")
    u1 = [r for r in evicted if r["user_id"] == 1]
    assert u1 and max(r["steps_reached"] for r in u1) == 1  # batch-1 row only


def test_minhash_stream_state_ttl_evicts_idle_buckets(spark, tmp_path):
    """Bucket state TTL: a near-dup arriving after the bucket's TTL
    horizon passed emits NO candidate pair (the stale membership was
    evicted); without the TTL the same arrival pairs with the old doc."""
    from views_transformation_library_spark.streaming.dedup import (
        minhash_candidates_stream,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"

    def drive(name, ttl):
        src = str(tmp_path / f"mh_{name}")
        os.makedirs(src)

        def write(i, rows):
            pd.DataFrame(
                {"doc_id": [r[0] for r in rows],
                 "ts": [pd.Timestamp(r[1]) for r in rows],
                 "text": [r[2] for r in rows]}
            ).to_parquet(src + f"/b{i}.parquet", coerce_timestamps="us")

        write(1, [(1, "2020-01-01 00:00:00", text)])
        stream = (
            spark.readStream.schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = minhash_candidates_stream(
            stream, n=3, n_hashes=8, bands=2, watermark="1 hour", state_ttl=ttl
        )
        q = (
            out.writeStream.format("memory").queryName(f"mh_{name}")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            write(2, [(99, "2020-02-01 00:00:00", "completely unrelated words here")])
            q.processAllAvailable()
            write(3, [(98, "2020-02-02 00:00:00", "more unrelated filler words")])
            q.processAllAvailable()
            write(4, [(2, "2020-02-02 01:00:00", text)])  # exact dup, much later
            q.processAllAvailable()
            return {(r["a"], r["b"]) for r in
                    spark.sql(f"SELECT * FROM mh_{name}").collect()}
        finally:
            q.stop()

    assert (1, 2) in drive("nottl", None)
    assert (1, 2) not in drive("ttl", "1 hour")


def test_panel_stream_batch_equivalence(spark, tmp_path):
    """Streaming panel maintenance == the batch aggregate, byte-exact:
    every (day, unit) cell the stream finalizes (watermark past day end)
    carries the identical DECIMAL-summed double the batch groupBy
    produces on the same events. Out-of-order arrival within the
    watermark is included; a far-future flush event seals the real days."""
    from views_transformation_library_spark.streaming.panel import (
        panel_from_events_stream,
    )

    from pyspark.sql import functions as F

    src = str(tmp_path / "pev")
    os.makedirs(src)

    def write(i, rows):
        pd.DataFrame(
            {"ts": [pd.Timestamp(r[0]) for r in rows],
             "user_id": [r[1] for r in rows],
             "value": [r[2] for r in rows]}
        ).to_parquet(src + f"/b{i}.parquet", coerce_timestamps="us")

    write(1, [("2020-01-01 03:00:00", 1, 10.25),
              ("2020-01-01 17:00:00", 1, 0.50),
              ("2020-01-02 09:00:00", 2, 3.75)])
    # batch 2: an out-of-order day-1 event still inside the 2-day watermark
    write(2, [("2020-01-01 22:00:00", 1, 1.25),
              ("2020-01-03 01:00:00", 2, 7.00)])
    # batch 3: far-future flush marches the watermark past every real day
    write(3, [("2020-06-01 00:00:00", 99, 0.0)])

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = panel_from_events_stream(stream, watermark="2 days")
    q = (
        out.writeStream.format("memory").queryName("panel_stream")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["time_id"], r["unit_id"]): r["value"]
            for r in spark.sql("SELECT * FROM panel_stream").collect()
            if r["unit_id"] != 99
        }
    finally:
        q.stop()

    batch = spark.read.parquet(src)
    expect = {
        (r["time_id"], r["unit_id"]): r["value"]
        for r in batch.filter(F.col("user_id") != 99)
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("time_id"),
            F.col("user_id").alias("unit_id"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value"))
        .collect()
    }
    assert got == expect  # byte-exact: DECIMAL sums, order never enters
    # the out-of-order day-1 event was folded in before sealing
    assert got[(18262, 1)] == 12.0


def test_panel_stream_time_id_tz_independent(spark, tmp_path):
    """time_id must be the UTC epoch day of the window start regardless of
    the session time zone (r6 fix): F.window's 1-day buckets are UTC-epoch
    aligned, but the old to_date(window.start) read the session TZ — in a
    vanilla non-UTC driver session every time_id shifted by a day vs the
    batch panel. The batch-equivalence test can't catch this (both sides
    share the session TZ), so this one flips the TZ explicitly."""
    from views_transformation_library_spark.streaming.panel import (
        panel_from_events_stream,
    )

    src = str(tmp_path / "peV_tz")
    os.makedirs(src)
    pd.DataFrame(
        {"ts": [pd.Timestamp("2020-01-01 03:00:00"),
                pd.Timestamp("2020-06-01 00:00:00")],
         "user_id": [1, 99],
         "value": [10.25, 0.0]}
    ).to_parquet(src + "/b1.parquet", coerce_timestamps="us")

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .parquet(src)
        )
        out = panel_from_events_stream(stream, watermark="2 days")
        q = (
            out.writeStream.format("memory").queryName("panel_tz")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["time_id"], r["unit_id"]): r["value"]
                for r in spark.sql("SELECT * FROM panel_tz").collect()
                if r["unit_id"] != 99
            }
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # 2020-01-01 is UTC epoch day 18262 — with the TZ bug this read 18261
    assert got == {(18262, 1): 10.25}


def test_spec_language_runs_on_streams(spark, tmp_path):
    """The registry spec language is execution-mode agnostic for scan-pure
    steps: the SAME normalize -> quality-filter -> keep spec that runs in
    batch runs verbatim on a readStream frame (projections/filters are
    streamable by construction; materialize() passes streaming frames
    through untouched)."""
    from views_transformation_library_spark import transform

    src = str(tmp_path / "specstream")
    os.makedirs(src)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then some more "
            "words with it to pass the minimum token bar for the filter "
            "plus even more filler text that keeps going and going today"),
        (2, "@@@@ #### !!!! 1234 %%%% junk"),
    ]
    pd.DataFrame({"doc_id": [r[0] for r in rows],
                  "text": [r[1] for r in rows]}).to_parquet(src + "/b1.parquet")
    spec = [
        {"type": "normalize_text", "kwargs": {
            "col": "text", "out": "text_norm", "lowercase": True}},
        {"type": "gopher_filter", "kwargs": {
            "col": "text_norm", "min_tokens": 10, "max_tokens": 100_000,
            "min_word_len": 2.0, "max_word_len": 12.0,
            "max_symbol_ratio": 0.3, "min_alpha_word_frac": 0.5,
            "min_stopword_hits": 1}},
        {"type": "where_expr", "args": ["keep"]},
        {"type": "select_cols", "args": ["doc_id", "text_norm"]},
    ]
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(src)
    )
    out = transform(stream, spec)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("spec_stream")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"] for r in spark.sql("SELECT * FROM spec_stream").collect()}
    finally:
        q.stop()
    # batch run of the SAME spec on the same file agrees
    batch = transform(spark.read.parquet(src), spec)
    assert got == {r["doc_id"] for r in batch.collect()} == {1}


def test_hll_stream_batch_equivalence(spark, tmp_path):
    """Streamed HLL registers must equal the batch operator's integer
    summary on the union of all micro-batches — exact, not approximate:
    the hashing is the same JVM expression, the merge is max."""
    import random

    from views_transformation_library_spark.operators import sketches
    from views_transformation_library_spark.streaming.sketches import (
        hll_distinct_stream,
    )

    rng = random.Random(7)
    src = str(tmp_path / "hll_src")
    os.makedirs(src)
    frames = []
    for b in range(3):  # 3 micro-batches, overlapping value sets
        pdf = pd.DataFrame(
            {
                "g": [rng.choice(["x", "y"]) for _ in range(400)],
                "v": [rng.randrange(1500) for _ in range(400)],
            }
        )
        pdf.to_parquet(f"{src}/b{b}.parquet", index=False)
        frames.append(pdf)

    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = hll_distinct_stream(stream, "v", "g", p=6)
    q = (
        out.writeStream.format("memory")
        .queryName("hll_out")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # update mode: the LAST emitted row per group is the final summary
        hist = spark.sql("SELECT * FROM hll_out").collect()
    finally:
        q.stop()
    final = {}
    for r in hist:  # memory sink appends in batch order
        final[r["g"]] = (r["n_zero"], r["s_scaled"])

    batch_df = spark.createDataFrame(pd.concat(frames), "g string, v long")
    expected = {
        r["g"]: (r["n_zero"], r["s_scaled"])
        for r in sketches.hll_distinct(batch_df, "v", ["g"], p=6).collect()
    }
    assert final == expected
    # and the shared estimate projection agrees with the batch estimate
    from pyspark.sql import functions as F

    est_stream = {
        r["g"]: r["e"]
        for r in spark.createDataFrame(
            [(g, s) for g, (_, s) in final.items()], "g string, s_scaled long"
        )
        .select("g", sketches.hll_estimate_from_scaled("s_scaled", 6).alias("e"))
        .collect()
    }
    est_batch = {
        r["g"]: r["estimate"]
        for r in sketches.hll_distinct(batch_df, "v", ["g"], p=6).collect()
    }
    assert est_stream == est_batch


def test_hll_stream_state_is_replay_safe(spark, tmp_path):
    """Re-delivering an entire micro-batch must not move the sketch
    (max-merge idempotence — the at-least-once safety property)."""
    from views_transformation_library_spark.streaming.sketches import (
        hll_distinct_stream,
    )

    src = str(tmp_path / "hll_replay")
    os.makedirs(src)
    pdf = pd.DataFrame({"g": ["x"] * 50, "v": list(range(50))})
    pdf.to_parquet(f"{src}/b0.parquet", index=False)

    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = hll_distinct_stream(stream, "v", "g", p=5)
    q = (
        out.writeStream.format("memory")
        .queryName("hll_replay_out")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM hll_replay_out").collect()[-1]
        # identical content, new file: the duplicate rows must be absorbed
        pdf.to_parquet(f"{src}/b1.parquet", index=False)
        q.processAllAvailable()
        second = spark.sql("SELECT * FROM hll_replay_out").collect()[-1]
    finally:
        q.stop()
    assert (first["n_zero"], first["s_scaled"]) == (
        second["n_zero"],
        second["s_scaled"],
    )


def test_hist_quantiles_stream_batch_equivalence(spark, tmp_path):
    """Streamed histogram-quantile state must equal the batch operator's
    integer selection on the union of all micro-batches — exact: the
    bucket assignment is the same JVM expression, the merge is integer
    addition, the selection the same all-integer ceil rank."""
    import random

    from views_transformation_library_spark.operators import profiling
    from views_transformation_library_spark.streaming.sketches import (
        hist_quantiles_stream,
    )

    rng = random.Random(13)
    src = str(tmp_path / "hq_src")
    os.makedirs(src)
    frames = []
    for b in range(3):
        pdf = pd.DataFrame(
            {
                "g": [rng.choice(["x", "y"]) for _ in range(400)],
                "v": [
                    # includes out-of-range values (clamped to edge buckets)
                    # and a sprinkling of None (dropped on both sides)
                    rng.choice([None, -5.0] + [rng.uniform(0, 120)] * 8)
                    for _ in range(400)
                ],
            }
        )
        pdf.to_parquet(f"{src}/b{b}.parquet", index=False)
        frames.append(pdf)

    LO, HI, NB, PCTS = 0.0, 100.0, 64, (25, 50, 75, 100)
    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = hist_quantiles_stream(stream, "v", "g", LO, HI, NB, PCTS)
    q = (
        out.writeStream.format("memory")
        .queryName("hq_out")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        hist = spark.sql("SELECT * FROM hq_out").collect()
    finally:
        q.stop()
    final = {}
    for r in hist:  # memory sink appends in batch order; last write wins
        final[(r["g"], r["percent"])] = (r["bucket"], r["rank"], r["n"])

    batch_df = spark.createDataFrame(pd.concat(frames), "g string, v double")
    expected = {
        (r["g"], r["percent"]): (r["bucket"], r["rank"], r["n"])
        for r in profiling.approx_quantiles_hist(
            batch_df, "v", LO, HI, NB, PCTS, group_cols=["g"]
        ).collect()
    }
    assert final == expected
    assert len(final) == 8  # 2 groups x 4 percents


def test_hist_quantiles_stream_accumulates_across_batches(spark, tmp_path):
    """The second micro-batch must shift the quantile selection (state is
    additive across batches, not per-batch)."""
    from views_transformation_library_spark.streaming.sketches import (
        hist_quantiles_stream,
    )

    src = str(tmp_path / "hq_acc")
    os.makedirs(src)
    # batch 0: 10 small values -> p100 bucket 1; batch 1: 10 large -> bucket 8
    pd.DataFrame({"g": ["x"] * 10, "v": [1.5] * 10}).to_parquet(
        f"{src}/b0.parquet", index=False
    )
    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = hist_quantiles_stream(stream, "v", "g", 0.0, 10.0, 10, (50, 100))
    q = (
        out.writeStream.format("memory")
        .queryName("hq_acc_out")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r["g"], r["percent"]): (r["bucket"], r["n"])
            for r in spark.sql("SELECT * FROM hq_acc_out").collect()
        }
        pd.DataFrame({"g": ["x"] * 10, "v": [8.5] * 10}).to_parquet(
            f"{src}/b1.parquet", index=False
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hq_acc_out").collect()
    finally:
        q.stop()
    second = {}
    for r in rows:
        second[(r["g"], r["percent"])] = (r["bucket"], r["n"])
    assert first[("x", 50)] == (1, 10) and first[("x", 100)] == (1, 10)
    # after batch 1: N=20, p50 rank 10 -> still bucket 1, p100 rank 20 -> bucket 8
    assert second[("x", 50)] == (1, 20) and second[("x", 100)] == (8, 20)


@pytest.mark.parametrize("op", ["grid_lag", "connected_components", "ngram_jaccard_pairs"])
def test_size_gated_operators_reject_streams(spark, op):
    """A size gate reads a row count off a checkpoint job, which a stream
    does not have: the operator refuses a streaming frame with a
    ValueError before any query starts."""
    from views_transformation_library_spark.operators import dedup, trees

    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    build = {
        "grid_lag": lambda: trees.grid_lag(
            rate.select(
                (F.col("value") % 3).alias("time_id"),
                (F.col("value") % 4 + 1).alias("unit_id"),
                F.col("value").cast("double").alias("v"),
            ),
            5.0,
        ),
        "connected_components": lambda: dedup.connected_components(
            rate.select(F.col("value").alias("a"), (F.col("value") + 1).alias("b"))
        ),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            rate.select(
                F.col("value").alias("doc_id"),
                F.col("value").cast("string").alias("text"),
            )
        ),
    }[op]
    with pytest.raises(ValueError, match="size gate needs a batch frame"):
        build()
    assert not spark.streams.active
