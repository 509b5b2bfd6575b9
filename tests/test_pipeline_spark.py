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


def test_arrow_path_matches_pandas_path(spark, docs_df):
    """extract_spans (mapInPandas) and extract_spans_arrow (mapInArrow
    columnar fast path) must emit identical span sets."""
    from pdf2ocr_spark.operators.extract import extract_spans, extract_spans_arrow

    key = ["doc_id", "kind", "offset"]
    a = extract_spans(docs_df).toPandas().sort_values(key).reset_index(drop=True)
    b = (
        extract_spans_arrow(docs_df)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


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
