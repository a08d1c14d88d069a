"""crawl_stream: closed-loop throughput of the streaming crawl capstone
(``run_corpus_stream``): WARC file stream -> URL gate -> main_content
(Python behind Arrow) -> C4 gate -> simhash dedupe in state ->
UpsertSink keyed on url.

An operation is one ``availableNow`` drain of a pre-landed backlog into
a fresh sink and checkpoint; drains repeat until the run time is spent.
A planted share of responses repeats earlier bodies, so the dedupe
state has known work and the kept row count is known."""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from perfbench import common
from perfbench.inputs import warc_backlog

# 4,000 responses per drain: a 10^5-response drain takes tens of
# seconds, and drains have to repeat several times within one run
FILES = 8
DOCS_PER_FILE = 500
FILES_PER_TRIGGER = 8
# an arbitrary planted share, not a measured crawl duplicate rate: it
# only has to give the dedupe state known work
DUP_FRAC = 0.2
# the fixture pages carry no terminal punctuation and a month-long
# watermark keeps every content key in state for the whole drain
CONF = {"min_words": 5, "min_sentences": 0, "watermark": "30 days"}


def _backlog(seed: int):
    return warc_backlog(str(common.WORK / "inputs"), seed, FILES, DOCS_PER_FILE,
                        DUP_FRAC)


def _warm_backlog(seed: int):
    return warc_backlog(str(common.WORK / "inputs"), seed, FILES, 50, DUP_FRAC)


def build_inputs(seed: int, seconds: int) -> None:
    _backlog(seed)
    _warm_backlog(seed)


def _checksum(df):
    import pyspark.sql.functions as F

    row = df.agg(F.count("*").alias("n"),
                 F.sum(F.pmod(F.xxhash64("text"), F.lit(2**31 - 1))).alias("h"),
                 F.sum("n_words").alias("w")).first()
    return (row["n"], row["h"], row["w"])


def _batch_clean(spark, path):
    from riko_spark.sources.warc import warc_records
    from riko_spark.streaming.corpus import clean_corpus

    return clean_corpus(warc_records(spark, path, keep_types=("response",)), CONF)


def _warm_up(spark, tracer, warm_dir, run_dir) -> float:
    """One warm-up: a drain of one small archive (Python workers
    spawned, DOM extractor loaded, stateful plan, state store and sink
    compiled)."""
    t0 = time.perf_counter()
    with tracer.span("warm_up"):
        _drain(spark, warm_dir, os.path.join(run_dir, f"warm{time.monotonic_ns()}"),
               tracer)
    return time.perf_counter() - t0


def _drain(spark, warc_dir, run_dir, tracer):
    from riko_spark.streaming.corpus import run_corpus_stream

    os.makedirs(run_dir)
    with tracer.span("crawl_stream.drain"):
        t0 = time.perf_counter()
        q, sink = run_corpus_stream(spark, warc_dir, os.path.join(run_dir, "sink"),
                                    os.path.join(run_dir, "ckpt"), conf=CONF,
                                    max_files_per_trigger=FILES_PER_TRIGGER)
        q.awaitTermination(150)
        took = time.perf_counter() - t0
    if q.isActive:
        q.stop()
        raise TimeoutError("drain did not finish")
    if q.exception():
        raise RuntimeError(str(q.exception()))
    return took, sink, [json.loads(p.json) for p in q.recentProgress]


def _timed(spark, tracer, warc_dir, run_dir, seconds):
    """Drain repeatedly for about ``seconds``: a drain starts if at least
    half of it (judged by the previous one) would fit, so the drains
    end, on average, at ``seconds``.  Returns per-drain records."""
    drains = []
    t_end = time.perf_counter() + seconds
    while not drains or time.perf_counter() + drains[-1]["s"] / 2 <= t_end:
        took, sink, progress = _drain(spark, warc_dir,
                                      os.path.join(run_dir, f"d{len(drains)}"), tracer)
        drains.append({"s": took, "sink": sink, "progress": progress})
    return drains


def run(seed, seconds, traced, rss, tracer, session) -> dict:
    warc_dir, manifest = _backlog(seed)
    warm_dir, _ = _warm_backlog(seed)
    n_docs = manifest["responses"]
    run_dir = str(common.WORK / f"run-{os.getpid()}")
    listener = None
    with rss:
        spark, setup_s, warm = session(lambda s: _warm_up(s, tracer, warm_dir, run_dir))
        if traced:
            from perfbench.layers import ProgressListener

            listener = ProgressListener()
            spark.streams.addListener(listener)
        with tracer.span("timed"), _sinks(tracer, traced):
            drains = _timed(spark, tracer, warc_dir, os.path.join(run_dir, "timed"),
                            seconds)
    expected = _checksum(_batch_clean(spark, warc_dir))
    failed = 0
    for d in drains:
        got = _checksum(d["sink"].result(spark))
        if got != expected or got[0] != manifest["distinct"]:
            failed += 1
    dropped = sum(o.get("numRowsDroppedByWatermark", 0) for d in drains
                  for p in d["progress"] for o in p.get("stateOperators") or [])
    times = [d["s"] for d in drains]
    result = {
        "attempted": len(drains), "failed": failed,
        "correct": failed == 0 and expected[0] == manifest["distinct"],
        "notes": [
            f"{len(drains)} drains of {n_docs} responses ({manifest['distinct']} "
            f"distinct bodies, {FILES} archives, {FILES_PER_TRIGGER} per batch): "
            + ", ".join(f"{t:.2f}" for t in times) + " s",
            f"batch clean_corpus keeps {expected[0]} rows, {manifest['distinct']} "
            f"planted distinct; {failed} drains differ from it; "
            f"{dropped} rows dropped by watermark",
            f"set-up: session {setup_s - common.median(warm):.2f} s + median warm-up of "
            + ", ".join(f"{x:.2f}" for x in warm) + " s",
        ],
        "metrics": {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "latency_p50_s": common.percentile(times, 50),
            "latency_p90_s": common.percentile(times, 90),
            "docs_per_s": n_docs * len(times) / sum(times),
        },
    }
    if traced:
        time.sleep(0.5)  # listener events arrive asynchronously
        spark.streams.removeListener(listener)
        result["layers"] = _layers(spark, tracer, listener.progress, drains, warc_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


@contextmanager
def _sinks(tracer, traced):
    """In the traced pass, route ``run_corpus_stream``'s sink through
    the timed wrapper: the capstone builds its UpsertSink internally,
    by name, at call time."""
    if not traced:
        yield
        return
    import functools

    import riko_spark.streaming.sink as sink_mod

    from perfbench.layers import TracedSink

    original = sink_mod.UpsertSink
    sink_mod.UpsertSink = functools.partial(TracedSink, tracer=tracer)
    try:
        yield
    finally:
        sink_mod.UpsertSink = original


def _layers(spark, tracer, progress, drains, warc_dir) -> dict:
    import pyspark.sql.functions as F

    from riko_spark.operators.cleaning import (
        c4_doc_filter_op,
        main_content_op,
        url_filter_op,
    )
    from riko_spark.sources.warc import warc_records

    from perfbench import layers

    out = layers.stream_layers(progress, tracer)
    out.update(layers.sink_layers([d["sink"] for d in drains]))
    # operator self times: batch replay of one drain's micro-batch,
    # prefix by prefix
    def docs():
        r = warc_records(spark, warc_dir, keep_types=("response",))
        return r.filter(F.col("payload").isNotNull()).select(
            F.col("warc_target_uri").alias("url"),
            F.to_timestamp("warc_date").alias("warc_ts"),
            F.decode("payload", "utf-8").alias("html"))

    def gated():
        return url_filter_op(docs(), {"blocked_domains": []}).filter("keep")

    def main():
        return main_content_op(gated().select("url", "warc_ts", "html"),
                               {"id_col": "url", "keep_cols": ["warc_ts"]}
                               ).withColumnRenamed("main_text", "text")

    def quality():
        return c4_doc_filter_op(main(), CONF).filter("keep")

    out.update(layers.prefix_probe(spark, tracer, [
        ("url_filter", gated), ("main_content", main), ("c4_doc_filter", quality)],
        "crawl_stream"))
    return out
