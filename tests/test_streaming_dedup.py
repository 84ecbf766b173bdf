"""Stateful streaming dedup (applyInPandasWithState): first occurrence of a
content fingerprint wins, within AND across micro-batches, surviving a
stream restart via the checkpointed state store."""

import os

from pyspark.sql import functions as F

from webextract.streaming import start_dedup_stream

HTML_A = (b"<html><body><p>Alpha content block with plenty of words to "
          b"extract cleanly here.</p></body></html>")
HTML_B = (b"<html><body><p>Beta content block, entirely different words "
          b"from the alpha one.</p></body></html>")
# same main content as HTML_A, different boilerplate (a recrawl/mirror):
HTML_A2 = (b"<html><body><div class=\"nav\"><a href=\"/x\">nav nav nav nav "
           b"nav nav nav</a></div><p>Alpha content block with plenty of "
           b"words to extract cleanly here.</p></body></html>")


def _write_batch(spark, land, name, rows):
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(land, name))


def test_stream_dedup_first_wins_across_batches_and_restarts(spark, tmp_path):
    from datetime import datetime

    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime(2026, 1, 1)

    # batch 1: A twice (in-batch dup) + B
    _write_batch(spark, land, "b1", [
        ("u1", ts, HTML_A, "", "en"),
        ("u2", ts, HTML_A, "", "en"),
        ("u3", ts, HTML_B, "", "en"),
    ])
    q = start_dedup_stream(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == 2  # one per distinct content
    assert {r.url for r in got.collect()} == {"u1", "u3"}  # (ts,url)-min wins

    # a LATER run lands a recrawl of A (different boilerplate, same content)
    # plus genuinely new content; restart restores the seen-state
    _write_batch(spark, land, "b2", [
        ("u4", ts, HTML_A2, "", "en"),
        ("u5", ts, HTML_B, "", "en"),
        ("u6", ts, b"<html><body><p>Gamma third distinct content block "
                   b"of words.</p></body></html>", "", "en"),
    ])
    q2 = start_dedup_stream(spark, land, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(out)
    assert got2.count() == 3  # only gamma added; A-recrawl and B-dup dropped
    assert {r.url for r in got2.collect()} == {"u1", "u3", "u6"}
    # distinct content keys == rows (no fingerprint emitted twice)
    assert got2.select("content_key").distinct().count() == 3


def _wait_input_rows(q, n, timeout=180):
    """Block until the query's progress history shows >= n source rows read
    (and their batches committed). Needed because with ProcessingTimeTimeout
    the stateful operator requests a (zero-data) cleanup batch EVERY trigger,
    so `noNewData` is never signalled and processAllAvailable()/availableNow
    never return — progress accounting is the only usable sync point."""
    import time

    t0 = time.time()
    while time.time() - t0 < timeout:
        if sum(p.numInputRows for p in q.recentProgress) >= n:
            return
        time.sleep(0.5)
    raise AssertionError(f"stream never read {n} input rows "
                         f"(got {sum(p.numInputRows for p in q.recentProgress)})")


def test_stream_dedup_ttl_live_key_still_dedups(spark, tmp_path):
    """With a TTL far beyond the test window, behavior is identical to the
    unbounded stream: the recrawl is still dropped (the key is live, its
    clock resets on every sighting)."""
    from datetime import datetime

    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime(2026, 1, 1)

    _write_batch(spark, land, "b1", [("u1", ts, HTML_A, "", "en")])
    # trigger_interval paces the cleanup batches (production setting for a
    # TTL'd stream) — the operator semantics are unchanged
    q = start_dedup_stream(spark, land, out, ckpt, ttl="10 minutes",
                           trigger_interval="1 second")
    try:
        _wait_input_rows(q, 1)
        _write_batch(spark, land, "b2", [("u2", ts, HTML_A2, "", "en")])
        _wait_input_rows(q, 2)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert {r.url for r in got.collect()} == {"u1"}  # recrawl still dropped


def test_stream_dedup_ttl_expired_key_readmits(spark, tmp_path):
    """VERDICT round 2 #3 (two-sided): a key idle past the TTL is evicted —
    a recrawl arriving after the horizon is re-admitted instead of being
    deduped against unbounded state. The continuous trigger's idle
    state-cleanup batches fire the eviction while the stream waits."""
    import time
    from datetime import datetime

    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime(2026, 1, 1)

    _write_batch(spark, land, "b1", [("u1", ts, HTML_A, "", "en")])
    q = start_dedup_stream(spark, land, out, ckpt, ttl="2 seconds")
    try:
        _wait_input_rows(q, 1)
        # idle past the TTL: the zero-data cleanup batches evict the key
        time.sleep(8)
        # the A-recrawl now lands AFTER eviction: re-admitted
        _write_batch(spark, land, "b3", [("u3", ts, HTML_A2, "", "en")])
        _wait_input_rows(q, 2)
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert {r.url for r in got.collect()} == {"u1", "u3"}
    # same content emitted twice — ONE fingerprint, two admissions
    assert got.select("content_key").distinct().count() == 1


def test_stream_dedup_ttl_with_available_now_is_refused(spark, tmp_path):
    """ProcessingTimeTimeout makes an availableNow run schedule cleanup
    batches forever — the API must refuse the combination, not hang."""
    import pytest

    with pytest.raises(ValueError, match="never terminates"):
        start_dedup_stream(spark, str(tmp_path / "l"), str(tmp_path / "o"),
                           str(tmp_path / "c"), available_now=True,
                           ttl="1 hour")


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The dedup operator runs unchanged on the RocksDB state store (the
    10^12-key deployment setting: state on executor local disk, not heap) —
    same first-wins semantics, restart-safe via the checkpoint."""
    from datetime import datetime

    from webextract.streaming import ROCKSDB_PROVIDER

    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime(2026, 1, 1)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        _write_batch(spark, land, "b1", [("u1", ts, HTML_A, "", "en"),
                                         ("u2", ts, HTML_B, "", "en")])
        q = start_dedup_stream(spark, land, out, ckpt, available_now=True)
        q.awaitTermination(300)
        _write_batch(spark, land, "b2", [("u3", ts, HTML_A2, "", "en")])
        q2 = start_dedup_stream(spark, land, out, ckpt, available_now=True)
        q2.awaitTermination(300)
        got = spark.read.parquet(out)
        # recrawl of A dropped against RocksDB-restored state
        assert {r.url for r in got.collect()} == {"u1", "u2"}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
