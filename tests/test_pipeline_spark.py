"""Spark integration tests: docs corpus generation, extraction pipeline,
partitioning-invariance (determinism), and parity vs the pure kernel run
single-process (the SURVEY §5 parity strategy: span-sequence equality on
(kind, text, media_ref, order) per document).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.kernel.emit import extract_document
from pdf2ocr_spark.pipeline import load_docs_corpus, load_documents, run_pipeline


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return load_docs_corpus(spark, sf_dir).cache()


def test_docs_corpus_shape(docs_df, spark, sf_dir):
    n_documents = load_documents(spark, sf_dir).count()
    assert docs_df.count() == n_documents
    row = docs_df.where(F.size("spans") > 0).first()
    kinds = {s["kind"] for s in row["spans"]}
    assert kinds <= {"page", "media"}
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)


def test_corpus_has_skew(docs_df):
    sizes = docs_df.select(F.size("spans").alias("n")).toPandas()["n"]
    assert sizes.max() >= 5 * max(1, int(sizes.median()))


def test_pipeline_end_to_end(spark, sf_dir):
    out = run_pipeline(spark, sf_dir, num_partitions=4)
    pdf = out.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"doc_id", "kind", "text", "media_ref", "offset"}
    assert set(pdf["kind"].unique()) <= {
        "text", "html", "docx_para", "markdown", "page_header", "media_ref",
    }
    # offsets dense per (doc_id, kind)
    g = pdf.groupby(["doc_id", "kind"])["offset"]
    assert (g.min() == 0).all()
    assert (g.max() + 1 == g.count()).all()


def test_partitioning_invariance(spark, sf_dir):
    a = run_pipeline(spark, sf_dir, num_partitions=2).toPandas()
    b = run_pipeline(spark, sf_dir, num_partitions=13).toPandas()
    key = ["doc_id", "kind", "offset"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize(
    "kwargs",
    [{}, {"formats": ("layout_text",)}, {"lang": "por"}, {"max_sentences": 2}],
    ids=["default", "layout_text", "por", "max_sentences"],
)
def test_extract_spans_matches_kernel(docs_df, kwargs):
    """extract_spans (the Arrow kernel over nested docs) emits, per
    document, exactly kernel.emit.extract_document's rows."""
    from pdf2ocr_spark.operators.extract import extract_spans

    key = ["doc_id", "kind", "offset"]
    got = extract_spans(docs_df, **kwargs).toPandas()
    rows = []
    for r in docs_df.collect():
        spans = [s.asDict() for s in r["spans"]]
        rows.extend(extract_document(r["doc_id"], spans, **kwargs))
    want = pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "offset"])
    want["offset"] = want["offset"].astype(got["offset"].dtype)
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def test_extract_spans_refuses_null_offset(spark):
    """A span whose offset is null cannot be ordered: the document is
    refused with an error naming it, not emitted in an arbitrary order."""
    from pdf2ocr_spark.operators.extract import extract_spans
    from pdf2ocr_spark.schema import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [("null-offset-doc", [
            {"kind": "page", "text": "Second.", "media_ref": None, "offset": 1},
            {"kind": "page", "text": "Null.", "media_ref": None, "offset": None},
            {"kind": "page", "text": "First.", "media_ref": None, "offset": 0},
        ])],
        schema=DOCS_SCHEMA,
    )
    with pytest.raises(Exception, match="null-offset-doc.*null offset"):
        extract_spans(docs).collect()


def test_nested_decoder_reads_sliced_batches():
    """The nested decoder indexes the span ListArray by its absolute
    offsets, so a batch sliced out of a larger array (non-zero first
    offset) decodes the right spans for each document."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf2ocr_spark.kernel.emit import ALL_FORMATS
    from pdf2ocr_spark.operators.extract import decode_nested, span_kernel
    from pdf2ocr_spark.schema import DOCS_SCHEMA

    docs = [
        (str(d), build_spans(str(d), f"Words of document {d}. " * (10 + 5 * d), "Src"))
        for d in range(7)
    ]
    table = pa.Table.from_pydict(
        {"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]},
        schema=to_arrow_schema(DOCS_SCHEMA),
    )
    batches = table.to_batches(max_chunksize=3)
    assert batches[1].column("spans").offsets[0].as_py() > 0
    run = span_kernel(decode_nested, ALL_FORMATS, "eng", None)
    got = pa.Table.from_batches(list(run(iter(batches)))).to_pylist()
    want = [r for d, s in docs for r in extract_document(d, s)]
    assert [tuple(r.values()) for r in got] == want


def test_parity_vs_pure_kernel(spark, sf_dir, docs_df):
    """Spark pipeline output == single-process kernel run, span-for-span."""
    spark_out = (
        run_pipeline(spark, sf_dir, num_partitions=4)
        .toPandas()
        .sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)
    )

    documents = load_documents(spark, sf_dir).toPandas()
    rows = []
    for _, r in documents.iterrows():
        spans = build_spans(str(r["doc_id"]), r["text"], r["source"])
        rows.extend(extract_document(str(r["doc_id"]), spans))
    local = (
        pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "offset"])
        .sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)
    )
    local["offset"] = local["offset"].astype(spark_out["offset"].dtype)
    pd.testing.assert_frame_equal(spark_out, local)


def test_workers_use_lazy_zip_invalidation(spark, docs_df):
    """Every Python worker that ran an engine kernel has the lazy zip-cache
    invalidation installed (pdf2ocr_spark.worker_imports), so reused
    workers stop re-reading pyspark.zip's directory on every task."""
    from pdf2ocr_spark.operators.extract import extract_spans_arrow

    assert extract_spans_arrow(docs_df).count() > 0

    # Nested, so it is pickled by value and imports nothing of the engine:
    # pdf2ocr_spark in sys.modules means this worker ran an engine task.
    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        lazy = sys.modules.get("pdf2ocr_spark.worker_imports")
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "engine": ["pdf2ocr_spark" in sys.modules],
            "installed": [
                lazy is not None
                and zipimport.zipimporter.invalidate_caches
                is lazy._lazy_invalidate_caches
            ],
            "zip_imports": [
                any(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
            ],
            "stamped": [lazy is not None and bool(lazy._read_stamps)],
        })

    rows = (
        spark.range(0, 16, numPartitions=16)
        .mapInArrow(
            probe,
            "pid long, engine boolean, installed boolean, "
            "zip_imports boolean, stamped boolean",
        )
        .collect()
    )
    engine_rows = [r for r in rows if r["engine"]]
    assert engine_rows, f"no probe task landed on a reused engine worker: {rows}"
    for r in engine_rows:
        assert r["installed"], f"worker {r['pid']} ran the engine unpatched"
        # the probe task's own set-up went through the lazy path
        assert r["stamped"] or not r["zip_imports"]
