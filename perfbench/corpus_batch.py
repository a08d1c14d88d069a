"""corpus_batch: throughput of one batch data-prep pipeline over a
seeded multi-file parquet corpus of paged documents.

c4_line_filter -> line_dedupe -> span_dedupe is the cleaning prefix;
a bigram LM trained on a fixed slice of the cleaned corpus scores every
document (``ngram_lm_score``, attached as a column); ``dsir_select``
then keeps the top-k of the LM-kept documents.  The run ends in
checksum aggregates, which must match the value pinned for the seed.
Native and shuffle-heavy: no state store, no sink, no Python UDF.
An operation is one pipeline run."""

from __future__ import annotations

import json
import time
from pathlib import Path

from perfbench import common
from perfbench.inputs import paged_corpus

FILES = 8
DOCS_PER_FILE = 1_000
TOP_K = 1_000
PINNED = Path(__file__).resolve().parent / "corpus_checksums.json"


def _corpus(seed: int) -> str:
    return paged_corpus(str(common.WORK / "inputs"), seed, FILES, DOCS_PER_FILE)


def _warm_corpus(seed: int) -> str:
    return paged_corpus(str(common.WORK / "inputs"), seed, 1, 200)


def build_inputs(seed: int, seconds: int) -> None:
    _corpus(seed)
    _warm_corpus(seed)


def stages(spark, path: str) -> list[tuple[str, object]]:
    """The pipeline as ``[(operator, build)]``: ``build(prev)`` returns
    the frame after that operator from the frame before it.  Each frame
    is built on the previous one, so every consumer re-runs the prefix
    beneath it, as written."""
    import pyspark.sql.functions as F

    from riko_spark.operators.cleaning import (
        c4_line_filter_op,
        line_dedupe_op,
        span_dedupe_op,
    )
    from riko_spark.operators.dsir import dsir_select_op
    from riko_spark.operators.lm import ngram_lm_score_op, ngram_lm_train

    def lm_scored(spanned):
        cleaned = spanned.select("doc_id", "text")
        lm = ngram_lm_train(cleaned.where(F.col("doc_id") % 7 == 1), min_count=2)
        scores = ngram_lm_score_op(cleaned, lm=lm, keep_milli=-4000)
        return cleaned.join(scores.select("doc_id", "logprob_milli", "keep"), "doc_id")

    def selected(scored):
        kept = scored.where("keep")
        return dsir_select_op(kept, target_df=kept.where(F.col("doc_id") % 7 == 1),
                              k=TOP_K, buckets=10_000, seed="perfbench")

    return [
        ("c4_line_filter", lambda _: c4_line_filter_op(spark.read.parquet(path))),
        ("line_dedupe", lambda df: line_dedupe_op(df.select("doc_id", "text"), min_docs=3)),
        ("span_dedupe", lambda df: span_dedupe_op(df.select("doc_id", "text"),
                                                  k=6, min_docs=3)),
        ("ngram_lm_score", lm_scored),
        ("dsir_select", selected),
    ]


def frames(spark, path: str) -> dict:
    out, df = {}, None
    for name, build in stages(spark, path):
        df = out[name] = build(df)
    return out


def checksum(spark, path: str) -> list[int]:
    """One pipeline run: two checksum aggregates over its outputs."""
    import pyspark.sql.functions as F

    built = frames(spark, path)
    h = F.pmod(F.xxhash64("text"), F.lit(2**31 - 1))
    a = built["ngram_lm_score"].agg(
        F.count("*"), F.sum(F.length("text")), F.sum(h),
        F.sum("logprob_milli"), F.sum(F.col("keep").cast("long"))).first()
    b = built["dsir_select"].agg(
        F.count("*"), F.sum("logw_milli"), F.sum("key_milli"),
        F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(2**31 - 1)))).first()
    return [int(x or 0) for x in (*a, *b)]


def _warm_up(spark, tracer, path) -> float:
    t0 = time.perf_counter()
    with tracer.span("warm_up"):
        checksum(spark, path)
    return time.perf_counter() - t0


def run(seed, seconds, traced, rss, tracer, session) -> dict:
    path = _corpus(seed)
    n_docs = FILES * DOCS_PER_FILE
    with rss:
        spark, setup_s, warm = session(lambda s: _warm_up(s, tracer, _warm_corpus(seed)))
        with tracer.span("timed"):
            t_end = time.perf_counter() + seconds
            runs = []
            while not runs or time.perf_counter() < t_end:
                spark.sparkContext.addJobTag("perfbench-run")
                spark.sparkContext.setJobDescription(f"corpus_batch run {len(runs)}")
                with tracer.span("corpus_batch.run"):
                    t0 = time.perf_counter()
                    sums = checksum(spark, path)
                    runs.append((time.perf_counter() - t0, sums))
                spark.sparkContext.removeJobTag("perfbench-run")
                spark.sparkContext.setJobDescription(None)
    pinned = json.loads(PINNED.read_text()).get(str(seed)) if PINNED.exists() else None
    expected = pinned or runs[0][1]
    failed = sum(1 for _, s in runs if s != expected)
    times = [t for t, _ in runs]
    result = {
        "attempted": len(runs), "failed": failed, "correct": failed == 0,
        "notes": [
            f"{len(runs)} runs over {n_docs} paged documents ({FILES} files): "
            + ", ".join(f"{t:.2f}" for t in times) + " s",
            f"checksum {runs[0][1]} "
            + ("matches the value pinned for this seed" if pinned and failed == 0
               else "differs from the pinned value" if pinned
               else "(no value pinned for this seed: runs checked against each other)"),
            f"set-up: session {setup_s - common.median(warm):.2f} s + median warm-up of "
            + ", ".join(f"{x:.2f}" for x in warm) + " s",
        ],
        "metrics": {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "latency_p50_s": common.percentile(times, 50),
            "latency_p90_s": common.percentile(times, 90),
            "docs_per_s": n_docs / common.median(times),
        },
    }
    if traced:
        from perfbench import layers

        steps = stages(spark, path)
        built: list = [None]

        def prefix(build):
            def run():
                built[0] = build(built[0])
                return built[0]
            return run

        result["layers"] = layers.prefix_probe(
            spark, tracer, [(n, prefix(b)) for n, b in steps], "corpus_batch")
    return result
