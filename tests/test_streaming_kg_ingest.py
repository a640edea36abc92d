"""Streaming KG ingestion: micro-batched parse→triples over landed page
files equals the batch pipeline over the same corpus; offsets checkpoint
so a second drain processes only new files; the per-batch partition
write is replay-idempotent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from semtools_spark.operators import kg
from semtools_spark.sources.web_pages import generate_web_pages
from semtools_spark.streaming.kg_ingest import (
    PAGES_STREAM_SCHEMA,
    accumulated_triples,
    ingest_available,
    refresh_graph,
)

SEED = 42


def _land(spark, src_dir, lo, hi):
    """Land pages [lo, hi) of the deterministic corpus as ONE new file
    (sliced by the page number embedded in the url, so landings are
    disjoint and their union is the first `hi` pages)."""
    pages = generate_web_pages(spark, hi, SEED)
    pages = pages.withColumn(
        "__n", F.regexp_extract("url", r"/p/(\d+)", 1).cast("long")
    ).filter((F.col("__n") >= lo) & (F.col("__n") < hi)).drop("__n")
    pages.coalesce(1).write.mode("append").parquet(src_dir)


def test_ingest_two_landings_then_refresh_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages_stream")
    out = str(tmp_path / "kg_out")
    ckpt = str(tmp_path / "ckpt")

    _land(spark, src, 0, 40)
    r1 = ingest_available(spark, src, out, checkpoint_dir=ckpt)
    assert len(r1) == 1 and r1[0]["pages"] == 40 and r1[0]["triples"] > 0

    # second landing: only the NEW file is processed (offset checkpoint)
    _land(spark, src, 40, 60)
    r2 = ingest_available(spark, src, out, checkpoint_dir=ckpt)
    assert len(r2) == 1 and r2[0]["pages"] == 20

    # nothing pending → no batches
    assert ingest_available(spark, src, out, checkpoint_dir=ckpt) == []

    # accumulated triples == batch extraction over the full corpus
    all_pages = generate_web_pages(spark, 60, SEED)
    from semtools_spark.operators.parse import parse_pages

    want = {
        tuple(r)
        for r in kg.extract_triples(parse_pages(all_pages), id_col="url")
        .select("subj", "pred", "obj")
        .collect()
    }
    got = {
        tuple(r)
        for r in accumulated_triples(spark, out)
        .select("subj", "pred", "obj")
        .collect()
    }
    assert got == want

    # the global refresh equals the batch pipeline's graph stage over
    # the same corpus (same link/canon/graph dataflow)
    rep = refresh_graph(spark, out, dim=32, seed=SEED)
    assert rep["graph_rows"] > 0

    from semtools_spark.pipeline import run_webkg_pipeline

    batch_pages = str(tmp_path / "pages_batch")
    all_pages.write.mode("overwrite").parquet(batch_pages)
    batch_out = str(tmp_path / "batch_out")
    run_webkg_pipeline(spark, batch_pages, batch_out, dim=32, seed=SEED)

    def graph_set(path):
        return {
            tuple(r)
            for r in spark.read.parquet(path)
            .select("subj", "pred", "obj", "subj_id", "obj_id", "n_mentions")
            .collect()
        }

    assert graph_set(rep["paths"]["graph"]) == graph_set(
        f"{batch_out}/graph.parquet"
    )


def test_refresh_graph_releases_link_broadcasts(spark, tmp_path, monkeypatch):
    """refresh_graph unpersists every catalog broadcast the link stage
    attached once link.parquet is written, as the batch pipeline's
    run_stage does. The LSH path (link_lsh_above below the 18-entity
    catalog) always broadcasts its rescue sample."""
    from pyspark.core.broadcast import Broadcast

    src = str(tmp_path / "pages_bc")
    out = str(tmp_path / "kg_bc")
    _land(spark, src, 0, 20)
    ingest_available(spark, src, out, checkpoint_dir=str(tmp_path / "ckpt_bc"))

    made, released = [], []
    real_link, real_unpersist = kg.link_entities, Broadcast.unpersist

    def recording_link(*args, **kwargs):
        linked = real_link(*args, **kwargs)
        made.extend(linked._semtools_broadcasts)
        return linked

    def recording_unpersist(self, blocking=False):
        released.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(kg, "link_entities", recording_link)
    monkeypatch.setattr(Broadcast, "unpersist", recording_unpersist)
    rep = refresh_graph(spark, out, dim=32, seed=SEED, link_lsh_above=4)
    assert rep["graph_rows"] > 0
    assert made, "preconditions: the LSH link attached no broadcast"
    assert all(any(b is r for r in released) for b in made)


def test_ingest_batch_partition_is_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a replay by re-running the
    same landing against a FRESH checkpoint (same batch id 0, same
    files) — the dynamic-partition overwrite rewrites ingest_batch=0
    instead of duplicating its rows."""
    src = str(tmp_path / "pages_replay")
    out = str(tmp_path / "kg_replay")

    _land(spark, src, 0, 30)
    ingest_available(spark, src, out, checkpoint_dir=str(tmp_path / "ck1"))
    first = accumulated_triples(spark, out).count()
    ingest_available(spark, src, out, checkpoint_dir=str(tmp_path / "ck2"))
    assert accumulated_triples(spark, out).count() == first

    # batch ids are recorded on disk as partitions
    parts = [
        d
        for d in os.listdir(f"{out}/triples_ingest.parquet")
        if d.startswith("ingest_batch=")
    ]
    assert parts == ["ingest_batch=0"]


def test_run_kg_cli_ingest_and_refresh_modes(spark, tmp_path):
    """jobs/run_kg.py --mode ingest / --mode refresh: the spark-submit
    deployment path for the continuous-crawl shape."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    try:
        import run_kg
    finally:
        sys.path.pop(0)

    src = str(tmp_path / "pages_cli")
    out = str(tmp_path / "kg_cli")
    ck = str(tmp_path / "ck_cli")
    _land(spark, src, 0, 30)
    assert run_kg.main([
        "--pages", src, "--out", out, "--mode", "ingest",
        "--stream-checkpoint", ck,
    ]) == 0
    assert run_kg.main([
        "--pages", src, "--out", out, "--mode", "refresh",
        "--dim", "32", "--seed", str(SEED),
    ]) == 0
    assert spark.read.parquet(f"{out}/graph.parquet").count() > 0


def _warc_record(body: bytes, uri: str,
                 date: str = "2025-01-06T12:00:00Z") -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"Content-Length: {len(http)}\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: {date}\r\n\r\n").encode()
    return head + http + b"\r\n\r\n"


def test_ingest_warc_landings(spark, tmp_path):
    """pages_format='warc': newly landed .warc.gz archives stream through
    the same micro-batch parse→triples — the continuous-crawl deployment.
    The file checkpoint tracks ARCHIVES, so a second drain sees only the
    new one, and the global refresh runs unchanged."""
    import gzip

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out = str(tmp_path / "kg_warc")
    ckpt = str(tmp_path / "ckpt_warc")

    (crawl / "a.warc.gz").write_bytes(gzip.compress(
        _warc_record(b"<p>spark join table</p>", "http://w.example/1")))
    r1 = ingest_available(spark, str(crawl), out,
                          checkpoint_dir=ckpt, pages_format="warc")
    assert len(r1) == 1 and r1[0]["pages"] == 1 and r1[0]["triples"] == 1

    (crawl / "b.warc.gz").write_bytes(gzip.compress(
        _warc_record(b"<p>row merge column</p>", "http://w.example/2")))
    r2 = ingest_available(spark, str(crawl), out,
                          checkpoint_dir=ckpt, pages_format="warc")
    assert len(r2) == 1 and r2[0]["pages"] == 1
    assert ingest_available(spark, str(crawl), out,
                            checkpoint_dir=ckpt, pages_format="warc") == []

    got = {
        tuple(r)
        for r in accumulated_triples(spark, out)
        .select("subj", "pred", "obj").collect()
    }
    assert got == {("spark", "join", "table"), ("row", "merge", "column")}
    rep = refresh_graph(spark, out, dim=32, seed=SEED)
    assert rep["graph_rows"] == 2


def test_ingest_zero_triple_batch_records_zero(spark, tmp_path):
    """r8: a batch whose pages yield NO triples writes no partition dir
    (dynamic overwrite of an empty frame) — metrics must record 0, not
    raise PATH_NOT_FOUND. Found by driving the surface with word-soup
    documents; also pins that per-batch metrics read only the batch's
    own partition directory (VERDICT r7 #3 metadata bound)."""
    pages = spark.createDataFrame(
        [("u1", None, None, "word soup with no extractable pattern", None)],
        schema=PAGES_STREAM_SCHEMA,
    )
    pages.write.parquet(str(tmp_path / "pages"))
    metrics = ingest_available(
        spark,
        str(tmp_path / "pages"),
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert metrics == [{"batch_id": 0, "pages": 1, "triples": 0}]


def test_batch_decoded_once_and_unpersisted(spark, tmp_path):
    """VERDICT r8 #1: each micro-batch's source must be computed ONCE —
    the un-persisted foreachBatch frame re-ran the source for isEmpty(),
    the write, and the pages count (2-3x decode cost for a mapInPandas
    source). Pinned two ways: a counting extractor proves exactly one
    parse per page across the whole drain (a second consumer of the
    parsed relation would double it), and the persisted block count
    returns to its pre-ingest value (the persist is batch-scoped)."""
    from semtools_spark.operators.parse import extract_text, passthrough_predicate

    src = str(tmp_path / "pages_once")
    out = str(tmp_path / "kg_once")
    ckpt = str(tmp_path / "ckpt_once")
    _land(spark, src, 0, 30)

    acc = spark.sparkContext.accumulator(0)

    def counting_extractor(b: bytes) -> str:
        acc.add(1)
        return extract_text(b)

    counting_extractor.__extractor_version__ = 1

    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    r = ingest_available(
        spark, src, out, checkpoint_dir=ckpt, extractor=counting_extractor
    )
    persisted_after = spark.sparkContext._jsc.getPersistentRDDs().size()

    n_parse = (
        spark.read.parquet(src).filter(~passthrough_predicate()).count()
    )
    assert len(r) == 1 and r[0]["pages"] == 30
    assert acc.value == n_parse  # exactly one extraction per parsed page
    # no NEW lingering blocks (≤, not ==: the shared test session may
    # hold other tests' lazy-checkpoint blocks that the ContextCleaner
    # releases at any time, so the absolute count can shrink under us)
    assert persisted_after <= persisted_before  # batch persist released
