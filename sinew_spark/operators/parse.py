"""Parse stage — fetched pages -> interleaved span documents + outlinks.

The reference parses lazily per recipe call (noko/xml/json views,
/root/reference/lib/sinew/response.rb:27-44); the engine parses each
document exactly once into the interleaved span model
(doc_id, spans: array<struct<kind,text,media_ref,offset>>) required by
BASELINE.json's input_hint, plus resolved outlinks for frontier expansion.

``span_arrays`` is the one span builder: the crawl's fused fetch stage
(sources/fetch.py), ``parse_documents`` and the WARC bootstrap
(sinks/warc.py) all call it. It builds typed pyarrow arrays directly:
PySpark's pandas serializer converts struct columns row-by-row in Python
(~470us/doc measured for the spans column), typed arrays cost ~8us/doc."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)
LINKS_TYPE = T.ArrayType(T.StringType())

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("final_url", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("links", LINKS_TYPE),
    ]
)


def span_arrays(status, content_type, body, base_url) -> tuple:
    """Equal-length lists of status, content type, body and base URL ->
    the (spans, links) pyarrow arrays. A row with status 200-399 and a
    non-empty body is parsed (content type default text/html, links
    resolved against its base URL); every other row gets ``[]``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    # looked up per call, inside the worker, so a wrapper installed on
    # the module there (perfbench's traced run) sees every parse
    from sinew_spark.functions.htmlparse import extract_spans_and_links

    spans_col, links_col = [], []
    for s, ct, b, url in zip(status, content_type, body, base_url):
        spans, links = (
            extract_spans_and_links(b, ct or "text/html", url)
            if s is not None and 200 <= s < 400 and b
            else ([], [])
        )
        spans_col.append(spans)
        links_col.append(links)
    return (
        pa.array(spans_col, type=to_arrow_type(SPAN_TYPE)),
        pa.array(links_col, type=to_arrow_type(LINKS_TYPE)),
    )


def parse_documents(fetched: DataFrame) -> DataFrame:
    """fetched (sources/fetch.FETCHED_SCHEMA columns canonical_url,
    final_url, status, content_type, resp_body, seq, depth) -> parsed span
    documents (PARSED_SCHEMA), one ``mapInArrow`` pass through
    ``span_arrays``. Links resolve against final_url, or canonical_url
    where it is null. Error responses (status>=400) and bodiless rows
    (a 304) yield empty spans but are kept — the reference caches errors
    too (README.md:115)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(PARSED_SCHEMA)
    passed = PARSED_SCHEMA.fields[:6]
    sources = ("canonical_url", "final_url", "status", "content_type", "seq", "depth")

    def parse_batches(it):
        for rb in it:
            spans, links = span_arrays(
                rb.column("status").to_pylist(),
                rb.column("content_type").to_pylist(),
                rb.column("resp_body").to_pylist(),
                rb.column("base_url").to_pylist(),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(f.name) for f in passed] + [spans, links], schema=arrow_schema
            )

    return fetched.select(
        [F.col(c).cast(f.dataType).alias(f.name) for c, f in zip(sources, passed)]
        + [
            F.col("resp_body"),
            F.coalesce(F.col("final_url"), F.col("canonical_url")).alias("base_url"),
        ]
    ).mapInArrow(parse_batches, PARSED_SCHEMA)
