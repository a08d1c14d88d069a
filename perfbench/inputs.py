"""Seeded input generators.  Every generator is a pure function of its
seed and size; outputs are cached under the benchmark's work directory
and built before any timing starts.  The engine only reads the files."""

from __future__ import annotations

import json
import os
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _cached(path: str, build) -> str:
    """Build ``path`` once; a ``_SUCCESS`` marker makes reuse safe after
    an interrupted build (the directory is rebuilt afresh)."""
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(marker, "w").close()
    return path


def shard_span(docs: int) -> timedelta:
    """Upper bound on one generated shard's event-time span:
    ``generate_pages`` steps at most 19 s per row plus 9 s jitter."""
    return timedelta(seconds=20 * docs + 60)


def pages_shard(seed: int, k: int, docs: int) -> pa.Table:
    """Pages shard ``k``: ``generate_pages`` restarts ``warc_ts`` near
    its base epoch for every call, so shard ``k`` is shifted by ``k``
    spans.  Event time then grows shard over shard the way a real crawl
    feed does, and a watermark longer than the fixture's 1 h lateness
    drops nothing."""
    from riko_spark.sources.pages import generate_pages

    tbl = generate_pages(docs, seed=seed * 100_003 + k, offset=k * docs)
    shift = pa.scalar(shard_span(docs) * k, pa.duration("us"))
    ts = pc.add(tbl.column("warc_ts"), shift)
    return tbl.set_column(tbl.schema.get_field_index("warc_ts"),
                          tbl.schema.field("warc_ts"), ts)


def pages_shards(root: str, seed: int, shards: int, docs: int) -> str:
    """``shards`` parquet files of ``docs`` pages each, named in landing
    order."""
    def build(path):
        for k in range(shards):
            pq.write_table(pages_shard(seed, k, docs),
                           os.path.join(path, f"shard-{k:05d}.parquet"))

    return _cached(os.path.join(root, f"pages_s{seed}_{shards}x{docs}"), build)


def warc_backlog(root: str, seed: int, files: int, docs: int,
                 dup_frac: float) -> tuple[str, dict]:
    """WARC backlog of ``files`` archives with ``docs`` responses each.
    A ``dup_frac`` share of responses repeat the HTML of an earlier
    response under their own url, so the content dedupe has known work
    to do.  Returns the directory and its manifest: response count and
    the number of distinct bodies the cleaned corpus must keep."""
    from riko_spark.sources.warc import build_warc

    path = os.path.join(root, f"warc_s{seed}_{files}x{docs}_d{dup_frac}")

    def build(path):
        rng = np.random.default_rng(seed)
        bodies: list[bytes] = []
        for f in range(files):
            tbl = pages_shard(seed, f, docs)
            recs = []
            for i, row in enumerate(tbl.select(["url", "warc_ts", "html"])
                                    .to_pylist()):
                html = row["html"]
                if bodies and rng.random() < dup_frac:
                    html = bodies[int(rng.integers(0, len(bodies)))]
                else:
                    bodies.append(html)
                recs.append({
                    "warc_type": "response", "uri": row["url"],
                    "date": row["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "content_type": "application/http; msgtype=response",
                    "content": b"HTTP/1.1 200 OK\r\n\r\n" + html,
                    "record_id": f"<urn:uuid:{seed}-{f}-{i}>",
                })
            with open(os.path.join(path, f"{f:04d}.warc.gz"), "wb") as fh:
                fh.write(build_warc(recs, gzip_members=True))
        with open(os.path.join(path, "manifest.json"), "w") as fh:
            json.dump({"responses": files * docs,
                       "distinct": len(bodies)}, fh)

    _cached(path, build)
    with open(os.path.join(path, "manifest.json")) as fh:
        return path, json.load(fh)


_WORDS = (
    "the of and to in is was for on that with as by at from his her an "
    "be this which or had are but not have they were one all their has "
    "been its more who will would new can also after first two other "
    "into time only over some most made may years could such then these"
).split()

# Boilerplate planted into the paged corpus: the line-level gate, the
# corpus line dedupe and the span dedupe each have known work to do.
_BANNER = "Subscribe to our newsletter today."
_COOKIE = "Accept all cookies to continue browsing."


def _paged_text(doc_id: int, words: list[str]) -> str:
    """One paged document: unique prose lines interleaved with shared
    banners, per-source footers, short lines, bullets and a trailing
    fragment -- the same planting shape as the engine's oracle corpus."""
    body = " ".join(words)
    lines = [
        f"Document {doc_id} begins with a clean opening sentence.",
        _BANNER if doc_id % 2 == 0
        else f"Filler opening {doc_id} adds unique prose here.",
        body[:40],
        _COOKIE if doc_id % 3 == 0
        else f"Second filler {doc_id} keeps the page going.",
        f"Shared footer text for source {doc_id % 5} of this site.",
        f"{body.capitalize()}.",
        "var config = { debug: false };" if doc_id % 13 == 0
        else f"More unique body text {doc_id} flows naturally.",
        "- bullet item one\n- bullet item two" if doc_id % 7 == 0
        else f"A very readable paragraph {doc_id} without bullets.",
        "This sentence trails off into nothing..." if doc_id % 17 == 0
        else f"The closing remark {doc_id} ends the page properly.",
    ]
    return "\n".join(lines)


def paged_corpus(root: str, seed: int, files: int, docs: int) -> str:
    """Multi-file parquet corpus ``(doc_id, text)`` of paged documents.
    Each body is 30-60 words drawn from a Zipf-weighted vocabulary, so
    the LM and DSIR stages see a realistic skew and the span dedupe
    finds repeated k-token windows."""
    def build(path):
        rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, len(_WORDS) + 1) ** 1.1
        weights /= weights.sum()
        for f in range(files):
            ids, texts = [], []
            for j in range(docs):
                doc_id = f * docs + j
                n = int(rng.integers(30, 61))
                words = [_WORDS[w] for w in rng.choice(len(_WORDS), n, p=weights)]
                ids.append(doc_id)
                texts.append(_paged_text(doc_id, words))
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": pa.array(texts, pa.string())}),
                os.path.join(path, f"part-{f:04d}.parquet"))

    return _cached(os.path.join(root, f"corpus_s{seed}_{files}x{docs}"), build)
