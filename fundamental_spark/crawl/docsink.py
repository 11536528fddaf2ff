"""Executor-side documents sink: fused render → span-parse → parquet.

The round-3 scaling bottleneck was memory bandwidth on the documents
write: page bodies were rendered and parsed in a pandas UDF, then the
~40-50 KB span payload per page crossed Arrow BACK to the JVM, was
re-materialized as InternalRows, and parquet-encoded JVM-side — every
byte of body text moved through executor DRAM 3-4 extra times.

This sink moves the whole hot path into the Python worker that already
holds the body. One ``mapInArrow`` stage per wave:

  compact spec/html batch (JVM → Arrow, ~0.6 KB/page for spec pages)
    → render (spec pages) — stands in for network fetch + decode
    → columnar span parse (parse.parse_spans_columnar — flat Arrow
      arrays, no per-span dicts, no pandas)
    → pyarrow.parquet encode (C++, dictionary+snappy) straight into the
      snapshot directory

and only a one-row-per-task summary (file name, row count) returns to
the JVM. Span bytes cross zero exchanges and zero Arrow round-trips:
they are born, parsed, and encoded inside a single Python process.

Commit protocol (tableformat.Warehouse.append_delta_files): tasks write
uniquely-named part files; the DRIVER keeps only the files reported by
successful tasks and deletes the rest — the same task-file/manifest
commit Iceberg uses, so duplicate task attempts (retries, speculation)
can never double data on a real cluster.

Parity note: produces byte-identical span sequences to the reference
extractor (funda_spider.py:188-453 field order as fixed by SURVEY.md
§3.1), pinned by tests/test_crawl_equivalence.py span-equality checks.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import DOCUMENTS_SCHEMA

DOC_SCHEMA = to_arrow_schema(DOCUMENTS_SCHEMA)


def _doc_batch(
    urls: list,
    htmls: list,
    wave: int,
    cities: pa.Array,
    pages: pa.Array,
    poss: pa.Array,
) -> pa.RecordBatch:
    from .parse import parse_spans_columnar

    offsets, kinds, texts, medias, offs = parse_spans_columnar(htmls)
    spans = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(medias, pa.string()),
                pa.array(offs, pa.int32()),
            ],
            fields=list(DOC_SCHEMA.field("spans").type.value_type),
        ),
    )
    n = len(urls)
    return pa.record_batch(
        [
            pa.array(urls, pa.string()),
            spans,
            pa.array([wave] * n, pa.int32()),
            cities.cast(pa.string()),
            pages.cast(pa.int32()),
            poss.cast(pa.int32()),
        ],
        schema=DOC_SCHEMA,
    )


def make_documents_sink(out_dir: str, wave: int, has_spec: bool):
    """Build the ``mapInArrow`` function writing documents part files.

    Input batches carry (url, [spec,] html, city, discovered_on_page,
    page_pos); yields one (file, n_docs) summary row per task."""

    def sink(batches):
        import pyarrow.parquet as pq

        if has_spec:
            from ..synth.site import render_from_spec

        writer = None
        tmp = final = None
        n_total = 0
        for b in batches:
            urls = b.column("url").to_pylist()
            htmls = b.column("html").to_pylist()
            if has_spec:
                specs = b.column("spec").to_pylist()
                htmls = [
                    render_from_spec(s) if s is not None else h
                    for (s, h) in zip(specs, htmls)
                ]
            rb = _doc_batch(
                urls,
                htmls,
                wave,
                b.column("city"),
                b.column("discovered_on_page"),
                b.column("page_pos"),
            )
            if writer is None:
                from pyspark import TaskContext

                ctx = TaskContext.get()
                pid = 0 if ctx is None else ctx.partitionId()
                name = f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
                final = os.path.join(out_dir, name)
                # leading '.' so a task killed mid-write leaves a file
                # every Spark/parquet reader IGNORES even if the commit
                # protocol's orphan sweep (append_delta_files) misses it
                tmp = os.path.join(out_dir, "." + name + ".inprogress")
                writer = pq.ParquetWriter(tmp, DOC_SCHEMA, compression="snappy")
            writer.write_batch(rb)
            n_total += rb.num_rows
        if writer is not None:
            writer.close()
            os.replace(tmp, final)
            yield pa.record_batch(
                [pa.array([os.path.basename(final)]), pa.array([n_total], pa.int64())],
                names=["file", "n_docs"],
            )

    return sink


def write_empty_documents(out_dir: str) -> str:
    """Schema-bearing empty part file so a wave with zero detail pages
    still commits a readable snapshot (spark.read needs ≥1 file)."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "part-empty.parquet")
    pq.write_table(DOC_SCHEMA.empty_table(), path, compression="snappy")
    return path
