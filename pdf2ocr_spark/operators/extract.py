"""docs -> spans_out: the per-document extraction stage.

Every extraction entry point (``extract_spans``, ``documents_to_spans`` and
the checkpointed job in ``operators/checkpoint.py``) runs the same
``mapInArrow`` kernel, ``span_kernel``: one Python-worker pass per Arrow
batch runs the whole reference per-document dataflow (OCR-language clean ->
boilerplate strip -> paragraph FSM -> multi-format span emission; see
kernel/emit.py) — the Spark analogue of the reference's operator fusion
(whole chain per file in one process, reference converters/pdf.py:663-739).
Only the input decoder differs: ``decode_nested`` reads the nested
``docs(doc_id, spans)`` relation, ``decode_text`` runs the docgen channel
over pre-channel ``(doc_id, text, source)`` rows.

Skew handling (SURVEY.md §4 / north rule): documents are one row each, so
classic key-salting is moot (no key repeats); the skew is per-row WEIGHT
(page count — a heavy doc is 40x a light one). ``skew_balanced`` does an
explicit weight-striped repartition: docs are bucketed by log2(weight)
class and hash-spread within each class, so every partition receives the
same expected mix of light and heavy docs without any global sort (which
would not survive 10^12 rows). The paragraph FSM is inherently sequential
per document, so a single monster document bounds one task — the page-scope
stages for such docs are handled by the exploded path (see
``operators/exploded.py``).
"""

from __future__ import annotations

import json
import time
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.kernel.emit import (
    ALL_FORMATS,
    _page_texts_in_order,
    extract_from_pages,
)
from pdf2ocr_spark.schema import SPANS_OUT_SCHEMA

#: ``kind`` of the per-``part_id`` lineage sentinel rows (operators/checkpoint.py)
LINEAGE_KIND = "_lineage"

#: output columns; ``part_id`` only when the lineage sink is on
_OUT_NAMES = ["doc_id", "kind", "text", "media_ref", "offset", "part_id"]
_OUT_TYPES = [pa.string()] * 4 + [pa.int32(), pa.int32()]


def decode_nested(batch: pa.RecordBatch) -> Tuple[List[str], Callable]:
    """Nested ``(doc_id, spans array<struct>)`` rows, read straight from the
    Arrow ListArray (mapInPandas' per-span dicts measured ~4-5x the raw
    kernel). A document with a null span ``offset`` cannot be ordered and
    is refused with a ``ValueError``."""
    doc_ids = batch.column("doc_id").to_pylist()
    spans = batch.column("spans")
    # absolute positions into ``values``, which stays correct when the
    # batch is a slice of a larger array (``flatten()`` would rebase)
    offsets = spans.offsets.to_pylist()
    flat = spans.values
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    offset_col = flat.field("offset")
    offs = offset_col.to_pylist()

    def pages_of(i: int) -> Tuple[List[str], List[str]]:
        order = sorted(range(offsets[i], offsets[i + 1]), key=offs.__getitem__)
        pages = [texts[j] or "" for j in order if kinds[j] == "page"]
        media = [refs[j] for j in order if kinds[j] == "media" and refs[j]]
        return pages, media

    if not offset_col.null_count:
        return doc_ids, pages_of

    null_at = np.flatnonzero(offset_col.is_null().to_numpy(zero_copy_only=False))
    refused = set((np.searchsorted(offsets, null_at, side="right") - 1).tolist())

    def checked_pages_of(i: int) -> Tuple[List[str], List[str]]:
        if i in refused:
            raise ValueError(f"document {doc_ids[i]!r} has a span with a null offset")
        return pages_of(i)

    return doc_ids, checked_pages_of


def decode_text(batch: pa.RecordBatch) -> Tuple[List[str], Callable]:
    """Pre-channel ``(doc_id, text, source)`` rows: each document's spans
    are built by the docgen channel (kernel/docgen.py) inside its own
    decode step, so the nested span relation never leaves the worker."""
    doc_ids = [str(d) for d in batch.column("doc_id").to_pylist()]
    texts = batch.column("text").to_pylist()
    sources = batch.column("source").to_pylist()

    def pages_of(i: int) -> Tuple[List[str], List[str]]:
        return _page_texts_in_order(build_spans(doc_ids[i], texts[i], sources[i]))

    return doc_ids, pages_of


def _out_batch(cols: Sequence[Sequence]) -> pa.RecordBatch:
    arrays = [pa.array(c, t) for c, t in zip(cols, _OUT_TYPES)]
    return pa.RecordBatch.from_arrays(arrays, names=_OUT_NAMES[: len(cols)])


def span_kernel(
    decode: Callable[[pa.RecordBatch], Tuple[List[str], Callable]],
    formats: Sequence[str],
    lang: str,
    max_sentences: Optional[int],
    part_mode: Optional[str] = None,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` function behind every extraction entry point.

    ``decode`` maps a batch to its doc ids and a step ``i -> (pages, media)``
    that runs inside the timing and ``try`` below, so a decode error is
    isolated like a kernel error and ``wall_sec`` covers decode + extract.
    ``part_mode`` turns the lineage sink on: the input carries ``part_id``,
    output rows keep it, failing documents are recorded instead of raised,
    and one ``LINEAGE_KIND`` row per ``part_id`` carries its counts as JSON;
    without it errors propagate.
    """
    fmts = tuple(formats)
    lineage = part_mode is not None

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one Spark task can carry several part_id values (value-hash
        # collisions in repartition), so metrics are bucketed per part_id
        stats: dict[int, dict] = {}
        for batch in batches:
            doc_ids, pages_of = decode(batch)
            pids = batch.column("part_id").to_pylist() if lineage else None
            # rows go into per-column lists one document at a time: keeping
            # a whole batch's row tuples alive and transposing them at the
            # end measured 3-6% slower per document
            cols = tuple([] for _ in range(6 if lineage else 5))
            for i, doc_id in enumerate(doc_ids):
                if lineage:
                    pid = pids[i]
                    st = stats.get(pid)
                    if st is None:
                        st = stats[pid] = {
                            "doc_count": 0, "page_count": 0, "span_count": 0,
                            "wall_sec": 0.0, "errors": [],
                        }
                    st["doc_count"] += 1
                    t0 = time.monotonic()
                try:
                    pages, media = pages_of(i)
                    out = extract_from_pages(
                        doc_id, pages, media, fmts, lang, max_sentences
                    )
                except Exception as exc:  # reference-style per-doc isolation
                    if not lineage:
                        raise
                    st["errors"].append(f"{doc_id}: {exc}")
                    pages = out = ()
                if lineage:
                    st["wall_sec"] += time.monotonic() - t0
                    st["page_count"] += len(pages)
                    st["span_count"] += len(out)
                    cols[5].extend([pid] * len(out))
                for col, vals in zip(cols, zip(*out)):
                    col += vals
            yield _out_batch(cols)
        if stats:
            part_ids = sorted(stats)
            for st in stats.values():
                wall = st["wall_sec"]
                st["wall_sec"] = round(wall, 4)
                st["docs_per_sec"] = (
                    round(st["doc_count"] / wall, 3) if wall > 0 else None
                )
                st["status"] = "success"
                st["part_mode"] = part_mode
            n = len(part_ids)
            payloads = [json.dumps(stats[p]) for p in part_ids]
            yield _out_batch(
                ([None] * n, [LINEAGE_KIND] * n, payloads, [None] * n, [0] * n, part_ids)
            )

    return run


def skew_balanced(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Weight-striped repartition of the docs relation by
    ``pipeline.stable_part_id``: one shuffle, no global ordering, and the
    expected work per partition is balanced by the law of large numbers."""
    from pdf2ocr_spark.pipeline import stable_part_id

    return docs.repartition(num_partitions, stable_part_id(num_partitions))


def extract_spans(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Run the extraction kernel over the nested docs relation.

    Returns the spans_out relation (doc_id, kind, text, media_ref, offset).
    Deterministic: output row SET is independent of partitioning.
    """
    if num_partitions:
        docs = skew_balanced(docs, num_partitions)
    return docs.select("doc_id", "spans").mapInArrow(
        span_kernel(decode_nested, formats, lang, max_sentences),
        schema=SPANS_OUT_SCHEMA,
    )


#: earlier name of the columnar nested path, kept for existing callers
extract_spans_arrow = extract_spans


def documents_to_spans(
    documents: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> DataFrame:
    """FUSED ingest path: (doc_id, text, source) -> spans_out in ONE Python
    pass per batch (docgen channel + extraction kernel back to back, no
    intermediate nested Arrow round trip, no second worker chain)."""
    return documents.select("doc_id", "text", "source").mapInArrow(
        span_kernel(decode_text, formats, lang, max_sentences),
        schema=SPANS_OUT_SCHEMA,
    )
