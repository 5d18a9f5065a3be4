"""Distributed WARC export / import (Common Crawl interop).

The reference's terminal output is CSV rows (lib/sinew/output.rb); a
web-scale crawl additionally needs the archival interchange format the
ecosystem actually exchanges: WARC/1.1 (ISO 28500) with a CDX-style
index, the Common Crawl layout. This module implements both directions
as shuffle-free Spark stages:

- ``write_warc``: one ``part-NNNNN.warc.gz`` per partition, written
  executor-side (mapInPandas holds the file handle across the
  partition's Arrow batches — no shuffle, no driver data). Each record
  is its OWN gzip member (the Common Crawl convention): a reader can
  fetch one record with a byte-range request and decompress it alone.
  The returned DataFrame is the CDX index — (url, filename, offset,
  length, digest, date) per record, offsets into the COMPRESSED file —
  computed while writing, so indexing costs zero extra passes.
- ``read_warc``: ``binaryFile`` scan of the .warc.gz parts, one Arrow
  batch stream per file, member-by-member decompression. File-parallel;
  at 100 TB the parallelism is the file count, which write_warc sets to
  the producing job's partition count.
- ``read_warc_record``: point lookup via a CDX row (filename, offset,
  length) — seek + decompress one member, no scan. This is the random
  access path the per-member gzip buys.

Determinism: WARC-Date derives from the row's ``date`` column and the
record id is a UUIDv5 of (url, date), so identical input produces
byte-identical archives — replay-stable like every other sink here.
Digests are labeled ``sha256:`` (the spec allows any labeled algorithm;
sha1 is the legacy default but sha256 keeps the digest oracle-able).

Executors write to ``out_dir`` directly, so on a cluster it must be a
shared filesystem (HDFS/NFS/S3-fuse); on local[*] any tmp dir works.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_VERSION = "WARC/1.1"

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("filename", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("date", T.StringType()),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("digest", T.StringType()),
        T.StructField("warc_type", T.StringType()),  # response | revisit
    ]
)


def _record_bytes(
    url: str, date_iso: str, status: int, content_type: str, body: bytes,
    revisit: bool = False, digest: str | None = None,
    refers_date: str | None = None,
) -> tuple[bytes, str]:
    """Serialize one WARC record (uncompressed). ``revisit=True`` emits a
    WARC revisit record (profile identical-payload-digest — the Common
    Crawl storage-dedup convention: the payload is NOT re-stored, only
    its digest, so an unchanged page costs ~200 bytes instead of its
    body). ``digest`` skips re-hashing when the caller already computed
    it (Catalyst sha2 in revisit mode); ``refers_date`` fills the
    WARC-Refers-To-Date header replay tooling (pywb/warcio) uses to
    resolve a revisit to its original record. Returns
    (record_bytes, payload_digest)."""
    if digest is None:
        digest = "sha256:" + hashlib.sha256(body).hexdigest()
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"{url} {date_iso}")
    if revisit:
        refers = f"WARC-Refers-To-Target-URI: {url}\r\n"
        if refers_date:
            refers += f"WARC-Refers-To-Date: {refers_date}\r\n"
        headers = (
            f"{WARC_VERSION}\r\n"
            f"WARC-Type: revisit\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date_iso}\r\n"
            f"WARC-Payload-Digest: {digest}\r\n"
            f"{refers}"
            "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/"
            "identical-payload-digest\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: 0\r\n\r\n"
        ).encode("utf-8")
        return headers + b"\r\n\r\n", digest
    http = (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8") + body
    headers = (
        f"{WARC_VERSION}\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Payload-Digest: {digest}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("utf-8")
    return headers + http + b"\r\n\r\n", digest


def _conversion_bytes(url: str, date_iso: str, text: bytes) -> tuple[bytes, str]:
    """Serialize one WARC **conversion** record (the WET convention:
    extracted plain text re-archived alongside the response archive).
    Block digest over the text, no HTTP envelope."""
    digest = "sha256:" + hashlib.sha256(text).hexdigest()
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"wet {url} {date_iso}")
    headers = (
        f"{WARC_VERSION}\r\n"
        f"WARC-Type: conversion\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Block-Digest: {digest}\r\n"
        f"Content-Type: text/plain\r\n"
        f"Content-Length: {len(text)}\r\n\r\n"
    ).encode("utf-8")
    return headers + text + b"\r\n\r\n", digest


def _metadata_bytes(url: str, date_iso: str, payload: bytes) -> tuple[bytes, str]:
    """Serialize one WARC **metadata** record (the WAT convention: a JSON
    envelope describing a response record — links, HTTP metadata —
    archived alongside the response archive). Block digest over the JSON;
    WARC-Refers-To points at the response record's deterministic id (the
    same UUIDv5 write_warc assigns), so WAT rows resolve to their WARC
    records without a join."""
    digest = "sha256:" + hashlib.sha256(payload).hexdigest()
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"wat {url} {date_iso}")
    refers = uuid.uuid5(uuid.NAMESPACE_URL, f"{url} {date_iso}")
    headers = (
        f"{WARC_VERSION}\r\n"
        f"WARC-Type: metadata\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Refers-To: <urn:uuid:{refers}>\r\n"
        f"WARC-Block-Digest: {digest}\r\n"
        f"Content-Type: application/json\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("utf-8")
    return headers + payload + b"\r\n\r\n", digest


def _member_writer(out_dir: str, suffix: str, rec_fn):
    """Shared per-partition gzip-member writer: one file per partition,
    one gzip member per record (byte-range random access), atomic
    publish, CDX-style index rows returned per record. ``rec_fn`` maps an
    itertuples row -> (record_bytes, digest)."""

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.{suffix}"
        path = os.path.join(out_dir, fname)
        tmp = path + ".inprogress"
        offset = 0
        fh = None
        try:
            for pdf in batches:
                if fh is None:
                    fh = open(tmp, "wb")
                rows = {
                    "url": [], "filename": [], "offset": [],
                    "length": [], "digest": [], "date": [],
                }
                for r in pdf.itertuples(index=False):
                    rec, digest = rec_fn(r)
                    member = gzip.compress(rec, mtime=0)  # mtime=0: replayable bytes
                    fh.write(member)
                    rows["url"].append(r.url)
                    rows["filename"].append(fname)
                    rows["offset"].append(offset)
                    rows["length"].append(len(member))
                    rows["digest"].append(digest)
                    rows["date"].append(r.date)
                    offset += len(member)
                yield pd.DataFrame(rows)
        finally:
            if fh is not None:
                fh.close()
                os.replace(tmp, path)  # atomic publish per partition

    return emit


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    text_col: str = "text",
    date_col: str = "date",
) -> DataFrame:
    """Write extracted plain text as WET (.warc.wet.gz — WARC conversion
    records, the Common Crawl text-extraction layout). Same shuffle-free
    per-partition member layout and lazy CDX-index return as write_warc;
    compose with operators/interleave.linearize_spans to turn span
    documents into the text blocks. Completes the Common Crawl interop
    trio: WARC (responses) + CDX (index) + WET (extracted text)."""
    os.makedirs(out_dir, exist_ok=True)
    text = F.col(text_col)
    if dict(df.dtypes)[text_col] != "binary":
        text = F.encode(text.cast("string"), "UTF-8")
    slim = df.select(
        F.col(url_col).alias("url"),
        F.col(date_col).alias("date"),
        text.alias("text"),
    )

    def rec(r):
        b = r.text if isinstance(r.text, (bytes, bytearray)) else b""
        return _conversion_bytes(r.url, r.date, bytes(b))

    return slim.mapInPandas(_member_writer(out_dir, "warc.wet.gz", rec), INDEX_SCHEMA)


def write_wat(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    date_col: str = "date",
    status_col: str = "status",
    content_type_col: str = "content_type",
    links_col: str = "links",
) -> DataFrame:
    """Write per-response metadata as WAT (.warc.wat.gz — WARC metadata
    records carrying a JSON envelope, the Common Crawl link-graph /
    metadata layout). The envelope is built CATALYST-SIDE with
    ``to_json`` (codegen, zero Python string work — the pandas stage only
    frames bytes), shaped like Common Crawl's::

        {"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":…,
         "WARC-Date":…},"Payload-Metadata":{"HTTP-Response-Metadata":{
         "Status":…,"Content-Type":…,"HTML-Metadata":{"Links":[…]}}}}}

    ``links_col`` is an ``array<string>`` (the crawl's outlinks column).
    Same shuffle-free per-partition member layout and lazy CDX-index
    return as write_warc/write_wet; byte-deterministic, so replays and
    oracles hash-match. Completes the Common Crawl interop set:
    WARC (responses) + CDX (index) + WET (text) + WAT (metadata)."""
    os.makedirs(out_dir, exist_ok=True)
    envelope = F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.col(url_col).alias("WARC-Target-URI"),
                    F.col(date_col).alias("WARC-Date"),
                ).alias("WARC-Header-Metadata"),
                F.struct(
                    F.struct(
                        F.col(status_col).cast("int").alias("Status"),
                        F.col(content_type_col).cast("string").alias("Content-Type"),
                        F.struct(
                            F.col(links_col).cast("array<string>").alias("Links"),
                        ).alias("HTML-Metadata"),
                    ).alias("HTTP-Response-Metadata"),
                ).alias("Payload-Metadata"),
            ).alias("Envelope")
        )
    )
    slim = df.select(
        F.col(url_col).alias("url"),
        F.col(date_col).alias("date"),
        F.encode(envelope, "UTF-8").alias("payload"),
    )

    def rec(r):
        b = r.payload if isinstance(r.payload, (bytes, bytearray)) else b"{}"
        return _metadata_bytes(r.url, r.date, bytes(b))

    return slim.mapInPandas(_member_writer(out_dir, "warc.wat.gz", rec), INDEX_SCHEMA)


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    body_col: str = "body",
    date_col: str = "date",
    status_col: str | None = "status",
    content_type_col: str | None = "content_type",
    revisit_index: DataFrame | None = None,
) -> DataFrame:
    """Write ``df`` as per-partition .warc.gz files; RETURNS the CDX index
    DataFrame (lazy — materializing the index is what performs the write).
    Rows are archived in partition order; sortWithinPartitions upstream
    for a canonical layout. ``body`` may be string (UTF-8-encoded) or
    binary; missing status/content_type default to 200/text/plain.

    ``revisit_index``: a prior crawl's (url, digest[, date]) table — e.g.
    the previous write's CDX index, or a union of several. Rows whose
    (url, sha256-of-body) matches ANY index entry are archived as WARC
    **revisit** records (identical-payload-digest profile): the payload
    is not re-stored, which is how incremental crawls keep archive growth
    proportional to CHANGED content. The match is an equi-join on
    (url, digest) — membership semantics, so a multi-crawl index with
    several digests per url stays deterministic — with the digest
    computed Catalyst-side (F.sha2); matched rows have their body NULLED
    before the Python writer, so unchanged payloads never cross the Arrow
    boundary. The join reshuffles, so revisit mode re-establishes a
    canonical layout (hash(url) into the input's partition count, sorted
    by url within partitions) — output bytes stay replay-deterministic;
    the index's ``date`` (when present) becomes WARC-Refers-To-Date."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [F.col(url_col).alias("url"), F.col(date_col).alias("date")]
    cols.append(
        (F.col(status_col) if status_col in df.columns else F.lit(200))
        .cast("int").alias("status")
    )
    cols.append(
        (
            F.col(content_type_col)
            if content_type_col in df.columns
            else F.lit("text/plain")
        ).cast("string").alias("content_type")
    )
    body = F.col(body_col)
    if dict(df.dtypes)[body_col] != "binary":
        body = F.encode(body.cast("string"), "UTF-8")
    cols.append(body.alias("body"))
    slim = df.select(cols)
    if revisit_index is not None:
        n_parts = slim.rdd.getNumPartitions()  # pre-join layout to restore
        prior_date = (
            F.col("date") if "date" in revisit_index.columns
            else F.lit(None).cast("string")
        )
        # membership on (url, digest): a multi-crawl index may hold several
        # digests per url — any exact payload match is a revisit, and the
        # latest matching date wins deterministically
        prior = (
            revisit_index.select(
                F.col("url").alias("url"),
                F.col("digest").alias("rv_digest"),
                prior_date.alias("rv_refers_date"),
            )
            .groupBy("url", "rv_digest")
            .agg(F.max("rv_refers_date").alias("rv_refers_date"))
            # join-success sentinel: an index date may legitimately be NULL,
            # so the revisit flag can't be derived from rv_refers_date
            .withColumn("rv_hit", F.lit(True))
        )
        slim = slim.withColumn(
            "rv_digest", F.concat(F.lit("sha256:"), F.sha2(F.col("body"), 256))
        )
        slim = (
            slim.join(prior, ["url", "rv_digest"], "left")
            .withColumn("revisit", F.coalesce(F.col("rv_hit"), F.lit(False)))
            .drop("rv_hit")
        )
        # unchanged payloads never cross into Python: null the body, the
        # precomputed digest rides along instead
        slim = slim.withColumn(
            "body",
            F.when(F.col("revisit"), F.lit(None).cast("binary")).otherwise(
                F.col("body")
            ),
        )
        # the join reshuffled — re-establish a deterministic canonical layout
        slim = slim.repartition(n_parts, "url").sortWithinPartitions("url")
    else:
        slim = (
            slim.withColumn("revisit", F.lit(False))
            .withColumn("rv_digest", F.lit(None).cast("string"))
            .withColumn("rv_refers_date", F.lit(None).cast("string"))
        )

    def rec(r):
        b = r.body if isinstance(r.body, (bytes, bytearray)) else b""
        return _record_bytes(
            r.url, r.date, int(r.status or 200),
            r.content_type or "text/plain", bytes(b),
            revisit=bool(r.revisit),
            digest=r.rv_digest if isinstance(r.rv_digest, str) else None,
            refers_date=(
                r.rv_refers_date if isinstance(r.rv_refers_date, str) else None
            ),
        )

    return slim.mapInPandas(_member_writer(out_dir, "warc.gz", rec), INDEX_SCHEMA)


def _parse_headers(block: bytes) -> dict:
    out = {}
    for line in block.split(b"\r\n"):
        k, sep, v = line.partition(b":")
        if sep:
            out[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return out


def parse_warc_stream(data: bytes) -> Iterator[dict]:
    """Parse an UNCOMPRESSED WARC byte stream into record dicts
    (url, date, status, content_type, body, digest)."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        head = _parse_headers(data[pos:head_end])
        # tolerant: a malformed Content-Length loses THIS record's framing
        # (and python's gzip reader concatenates every member of a .warc.gz
        # into one stream, so ending the parse here would silently drop all
        # remaining records in the FILE). Resync to the next record-separator
        # + header marker instead — best-effort recovery that loses only the
        # corrupt record. try/except, not .isdigit(): latin-1-decoded header
        # garbage like '²' passes isdigit() yet raises in int(); a negative
        # length is equally unframeable (and would walk pos backwards).
        try:
            clen = int(head.get("content-length", "0"))
            if clen < 0:
                raise ValueError("negative Content-Length")
        except ValueError:
            nxt = data.find(b"\r\n\r\nWARC/1.0\r\n", head_end)
            if nxt < 0:
                return
            pos = nxt + 4
            continue
        content = data[head_end + 4 : head_end + 4 + clen]
        pos = head_end + 4 + clen
        wtype = head.get("warc-type")
        if wtype not in ("response", "revisit", "conversion", "metadata"):
            continue
        # conversion (WET) and metadata (WAT) records carry the block
        # directly — no HTTP envelope; content type comes from the WARC
        # header itself
        status, ctype, body = 0, "", content
        if wtype in ("conversion", "metadata"):
            ctype = head.get("content-type", "")
        http_end = content.find(b"\r\n\r\n")
        if wtype != "conversion" and content.startswith(b"HTTP/") and http_end >= 0:
            http_head = content[:http_end]
            body = content[http_end + 4 :]
            first = http_head.split(b"\r\n", 1)[0].split()
            # tolerant: a malformed status token in an external archive
            # ("HTTP/1.1 abc") must not kill the reader task — it maps to
            # 0, the same bucket as a missing status line
            status = (
                int(first[1]) if len(first) > 1 and first[1].isdigit() else 0
            )
            ctype = _parse_headers(http_head).get("content-type", "")
        yield {
            "url": head.get("warc-target-uri", ""),
            "date": head.get("warc-date", ""),
            "status": status,
            "content_type": ctype,
            "body": body,
            "digest": head.get("warc-payload-digest")
            or head.get("warc-block-digest", ""),
            "warc_type": wtype,
        }


def read_warc(spark: SparkSession, in_dir: str, glob: str = "*.warc.gz") -> DataFrame:
    """Read .warc.gz files into RECORD_SCHEMA rows. File-parallel binary
    scan; python's gzip reads concatenated members as one stream, so
    per-member and whole-file compression both parse."""
    files = spark.read.format("binaryFile").load(
        os.path.join(in_dir, glob)
    ).select("content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in RECORD_SCHEMA.fields}
            for content in pdf["content"]:
                for rec in parse_warc_stream(gzip.decompress(bytes(content))):
                    for k in rows:
                        rows[k].append(rec[k])
            yield pd.DataFrame(rows)

    return files.mapInPandas(parse, RECORD_SCHEMA)


def read_wet(spark: SparkSession, in_dir: str) -> DataFrame:
    """Read .warc.wet.gz conversion records: (url, date, body=text block,
    digest, warc_type='conversion'). Same file-parallel scan as
    read_warc."""
    return read_warc(spark, in_dir, glob="*.warc.wet.gz")


def read_wat(spark: SparkSession, in_dir: str) -> DataFrame:
    """Read .warc.wat.gz metadata records: (url, date, body=JSON envelope,
    digest, warc_type='metadata'). Downstream, parse the envelope with
    Catalyst ``from_json``/``get_json_object`` — e.g. extract
    ``$.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata
    .Links`` to rebuild the link graph without touching response
    bodies."""
    return read_warc(spark, in_dir, glob="*.warc.wat.gz")


TEXTUAL_CONTENT_TYPES = (
    "text/", "application/json", "application/xml", "application/xhtml",
    "application/rss", "application/atom",
)


def bootstrap_crawl_from_warc(
    crawler,
    in_dir: str,
    glob: str = "*.warc.gz",
    content_types: tuple = TEXTUAL_CONTENT_TYPES,
) -> int:
    """Seed a Crawler's seen/fetched state from an existing WARC archive
    (Common Crawl migration / crawl resume from archival storage): every
    response record becomes a fetched row (spans + links parsed through
    the same extract path the live crawl fuses) and a seen entry, so a
    subsequent crawl treats archived pages as already fetched — the
    exactly-once guarantee extends across the archive boundary — while
    the documents view serves their span documents immediately.

    Imported rows carry round = -1 (archive-import marker), seq = the
    request-identity key (no global sort — the archive's emit order is
    not meaningful), and no HTTP validators (the archive stores content
    digests, not origin ETags; a revalidating recrawl simply refetches).
    Duplicate URLs in the archive resolve to the latest WARC-Date. One
    key-shuffle for the dedup, then ``span_arrays`` appends the parsed
    spans and links in the same pass (mapInArrow) — bootstrap is a
    one-time O(archive) job, file-parallel on the read side. Returns the
    number of pages imported.

    ``content_types``: only records whose Content-Type starts with one of
    these prefixes are imported (default: the textual types). The
    engine's resp_body is text — importing an image/PDF record would
    mojibake its payload through the UTF-8 decode AND mark the URL seen
    at round -1, making the corruption permanent under exactly-once.
    Binary records are SKIPPED (not imported, not marked seen), so a
    later crawl can still fetch them live. Pass () to disable the gate
    (archives known to be all-text)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.window import Window

    from sinew_spark.functions.charset import decode_auto
    from sinew_spark.functions.urls import host_expr, request_key_expr
    from sinew_spark.operators.parse import span_arrays
    from sinew_spark.sources.fetch import FETCH_PARSED_SCHEMA, FETCHED_SCHEMA

    arrow_schema = to_arrow_schema(FETCH_PARSED_SCHEMA)

    recs = read_warc(crawler.spark, in_dir, glob=glob).where(
        F.col("warc_type") == "response"
    )
    if content_types:
        gate = None
        for p in content_types:
            m = F.col("content_type").startswith(p)
            gate = m if gate is None else (gate | m)
        recs = recs.where(F.coalesce(gate, F.lit(False)))
    recs = (
        recs
        .select(
            F.col("url"),
            F.col("status").cast("int").alias("status"),
            F.col("content_type"),
            # charset-aware tolerant decode (functions/charset.py): archives
            # carry whatever encoding the origin served — BOM / header-param /
            # meta-declaration sniff, malformed bytes degrade to U+FFFD.
            # (A blanket decode(body,'UTF-8') THROWS on the first mojibake
            # page under Spark 4's strict coding-error behavior.)
            decode_auto(F.col("body"), F.col("content_type")).alias("resp_body"),
            # try_to_timestamp, not to_timestamp: a single malformed
            # WARC-Date in an external archive would CAST_INVALID_INPUT
            # under Spark 4's ANSI default and abort the bootstrap.
            # Unparseable -> epoch 0.0 = "oldest", so the latest-wins
            # window below always prefers a dated record and an undated
            # page stays maximally recrawl-eligible (the conservative
            # bucket, matching sitemap_stale's posture).
            F.coalesce(
                F.unix_timestamp(F.try_to_timestamp("date")).cast("double"),
                F.lit(0.0),
            ).alias("fetched_at"),
        )
    )
    base = (
        recs.withColumn("canonical_url", crawler.canonicalize(F.col("url")))
        .withColumn("method", F.lit("GET"))
        .withColumn("body", F.lit(""))
        .withColumn(
            "key",
            request_key_expr(F.col("method"), F.col("canonical_url"), F.col("body")),
        )
        .withColumn("host", host_expr(F.col("canonical_url")))
    )
    # latest record per identity wins (re-crawled pages appear twice in
    # incremental archives); deterministic via (fetched_at, url) order
    w = Window.partitionBy("key").orderBy(F.desc("fetched_at"), F.desc("url"))
    base = base.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    # FETCHED_SCHEMA's columns in its order and types: one attempt, no hops,
    # final_url = canonical_url; no error, proxy, cookies, validators or
    # live request timing (null)
    fixed = {
        "priority": F.lit(0.0), "depth": F.lit(0), "seq": F.col("key"), "attempt": F.lit(0),
        "final_url": F.col("canonical_url"), "n_attempts": F.lit(1), "hops": F.array(),
    }
    fetch_like = base.select([
        fixed.get(f.name, F.col(f.name) if f.name in base.columns else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in FETCHED_SCHEMA.fields
    ])

    def add_spans(it):
        for rb in it:
            spans, links = span_arrays(
                *(rb.column(c).to_pylist() for c in ("status", "content_type", "resp_body", "final_url"))
            )
            yield pa.RecordBatch.from_arrays(rb.columns + [spans, links], schema=arrow_schema)

    full = fetch_like.mapInArrow(add_spans, FETCH_PARSED_SCHEMA).withColumn("round", F.lit(-1))
    snap = crawler.fetched_t.append(full, {"op": "warc_bootstrap"})
    imported = crawler.fetched_t.read_delta(snap)
    n = imported.count()
    crawler.seen_t.append(
        imported.select(
            "key",
            F.col("canonical_url").alias("url"),
            "method",
            "status",
            "fetched_at",
            F.lit(None).cast("string").alias("hop_of"),
            F.lit(-1).alias("round"),
        ),
        {"op": "warc_bootstrap"},
    )
    return n


def read_warc_record(in_dir: str, filename: str, offset: int, length: int) -> dict:
    """Point lookup via a CDX index row: seek + decompress ONE gzip member.
    O(record) regardless of archive size — the random-access path the
    per-member compression exists for (local/shared-fs variant of a
    ranged GET against an object store)."""
    with open(os.path.join(in_dir, filename), "rb") as f:
        f.seek(offset)
        member = f.read(length)
    recs = list(parse_warc_stream(gzip.decompress(member)))
    if not recs:
        raise ValueError(f"no WARC record at {filename}:{offset}+{length}")
    return recs[0]
