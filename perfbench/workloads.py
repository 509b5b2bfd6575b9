"""The benchmark's workloads and their output checks.

Each workload generates its inputs from the seed (``generate``), runs an
untimed pass that warms the session and, for ``dedup``, collects the
results it checks (``warm``), then runs timed operations (``op``) and
checks the outputs once (``check``). A traced run may measure more calls
after its loop (``traced_extra``). Every call into the program happens
inside a ``Tracer`` span whose name is also the Spark job description
while the tracer labels jobs.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import threading
import time
from contextlib import contextmanager

import gen

#: doc_ids of the sample whose output rows are checked against the kernel
CHECK_SAMPLE = 40
#: the kernel microtimings run on this fixed sample, independent of --seed,
#: so ``kernel.emit.rows_per_doc`` repeats exactly on every run
KERNEL_SEED = 20240101
KERNEL_DOCS = 300
KERNEL_REPEATS = 3
#: docs of the dedup input, here and in extract_nested's traced run
DEDUP_DOCS = 500
#: labelled rounds of the five dedup queries in extract_nested's traced run
DEDUP_TRACED_ROUNDS = 3

DEDUP_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_applied",
)


class Tracer:
    """Benchmark-side spans (name, start, end, parent), kept in memory.

    While ``label_jobs`` is set, a span given the session also sets the
    Spark job description to its name and restores the previous one when it
    ends, so the event log can be joined to the calls that caused each
    job."""

    def __init__(self):
        self.label_jobs = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, spark=None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = spark.sparkContext if spark is not None and self.label_jobs else None
        if sc is not None:
            outer = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(outer)

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def reference_rows(doc_ids, texts, sources) -> list[tuple]:
    """Output rows of ``kernel.docgen.build_spans`` -> ``kernel.emit.
    extract_document`` for the given documents, in the engine's default
    formats (what the extraction jobs run)."""
    from pdf2ocr_spark.kernel.docgen import build_spans
    from pdf2ocr_spark.kernel.emit import extract_document

    rows = []
    for doc_id, text, source in zip(doc_ids, texts, sources):
        did = str(doc_id)
        rows.extend(tuple(r) for r in extract_document(did, build_spans(did, text, source)))
    return sorted(rows, key=repr)


def kernel_timings() -> dict:
    """In-process, single-threaded microtimings of the two kernels on a
    fixed sample (median of ``KERNEL_REPEATS`` passes)."""
    from pdf2ocr_spark.kernel.docgen import build_spans
    from pdf2ocr_spark.kernel.emit import extract_document

    tab = gen.documents_table(KERNEL_SEED, KERNEL_DOCS).to_pydict()
    docs = [(str(d), t, s) for d, t, s in zip(tab["doc_id"], tab["text"], tab["source"])]
    docgen_s, emit_s = [], []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        spans = [build_spans(d, t, s) for d, t, s in docs]
        docgen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        rows = sum(len(extract_document(d, sp)) for (d, _, _), sp in zip(docs, spans))
        emit_s.append(time.perf_counter() - t0)
    pages = sum(1 for sp in spans for s in sp if s["kind"] == "page")
    return {
        "kernel.docgen.us_per_doc": statistics.median(docgen_s) / len(docs) * 1e6,
        "kernel.emit.us_per_doc": statistics.median(emit_s) / len(docs) * 1e6,
        "kernel.emit.us_per_page": statistics.median(emit_s) / pages * 1e6,
        "kernel.emit.rows_per_doc": rows / len(docs),
    }


def result_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas result: columns
    sorted by name, floats rounded to 4 places, rows sorted, dtype kinds
    included (the comparison tests/test_oracle_parity.py makes)."""
    cols = sorted(pdf.columns)
    rows = []
    for tup in pdf[cols].itertuples(index=False):
        row = []
        for v in tup:
            v = v.item() if hasattr(v, "item") else v
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 4)
            row.append(v)
        rows.append(tuple(row))
    rows.sort(key=repr)
    kinds = [pdf[c].dtype.kind for c in cols]
    return len(rows), hashlib.sha256(repr((cols, kinds, rows)).encode()).hexdigest()


class Workload:
    name = ""
    #: the operations of one round of the timed loop, in order
    parts: tuple[str, ...] = ()
    #: untimed ops before the timed loop: the first one pays for the JVM's
    #: class loading and code generation, the later ones let the JIT settle
    warm_ops = 2

    def __init__(self, work_dir: str, seed: int, n_docs: int, tracer: Tracer):
        self.seed = seed
        #: input docs, which every op processes
        self.n_docs = n_docs
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "input")
        self.work_dir = work_dir
        self.table = None
        #: op tag -> what the op returned beyond its wall
        self.records: dict[str, dict] = {}

    def generate(self, spark) -> None:
        self.table = gen.documents_table(self.seed, self.n_docs)
        gen.write_documents(self.table, self.sf_dir)

    def traced_extra(self, spark) -> tuple["Workload", list[str], list[str]]:
        """Extra calls a traced run measures after its loop: the workload
        whose ``op`` ran them, the round tags, and the check failures
        (none by default)."""
        return self, [], []

    def warm(self, spark) -> None:
        for i in range(self.warm_ops):
            for part in self.parts:
                self.op(spark, f"warm{i}", part)

    def op(self, spark, tag: str, part: str) -> float:
        """Runs operation ``part`` of round ``tag``; returns its wall."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def input_stats(self) -> dict:
        from pdf2ocr_spark.kernel.docgen import (
            SENTENCES_PER_PAGE,
            WORDS_PER_SENTENCE,
            heavy_factor,
        )

        tab = self.table.to_pydict()
        pages = heavy = 0
        for doc_id, text in zip(tab["doc_id"], tab["text"]):
            factor = heavy_factor(str(doc_id))
            heavy += factor > 1
            sentences = -(-len(text.split()) * factor // WORDS_PER_SENTENCE)
            pages += -(-sentences // SENTENCES_PER_PAGE)
        return {
            "docs": self.n_docs,
            "pages": pages,
            "heavy_doc_share": heavy / self.n_docs,
            "input_bytes": os.path.getsize(os.path.join(self.sf_dir, "documents.parquet")),
        }

    def _sample(self):
        tab = self.table.to_pydict()
        idx = sorted(random.Random(self.seed).sample(range(self.n_docs), min(CHECK_SAMPLE, self.n_docs)))
        return (
            [tab["doc_id"][i] for i in idx],
            [tab["text"][i] for i in idx],
            [tab["source"][i] for i in idx],
        )

    def _rows_match(self, spark_rows, what: str) -> list[str]:
        ids, texts, sources = self._sample()
        want = reference_rows(ids, texts, sources)
        got = sorted((tuple(r) for r in spark_rows), key=repr)
        if got == want:
            return []
        return [f"{what}: {len(got)} rows for the {len(ids)}-doc sample, kernel gives {len(want)}"]


class ExtractCkpt(Workload):
    """The production job shape of ``jobs/run_extract.py``: stripe-key
    shuffle of the small rows -> fused docgen+emit ``mapInArrow`` ->
    partitioned parquet write + lineage -> verify. The check runs a no-op
    resume over the last output and times it."""

    name = "extract_ckpt"
    parts = ("run_checkpointed",)
    partitions = 16

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out_dir = os.path.join(self.work_dir, "out")
        #: wall of the no-op resume the check runs
        self.resume_s = 0.0

    def _small(self, spark):
        from pdf2ocr_spark.pipeline import load_documents, stripe_key

        p = self.partitions
        documents = load_documents(spark, self.sf_dir).repartition(p)
        return documents.withColumn("part_id", stripe_key(p)).repartition(p, "part_id")

    def op(self, spark, tag: str, part: str) -> float:
        from pdf2ocr_spark.operators.checkpoint import run_checkpointed

        tr = self.tracer
        with tr.span(f"{self.name}/{tag}/operators.checkpoint.run_checkpointed", spark) as s:
            res = run_checkpointed(
                spark, self._small(spark), self.out_dir,
                num_partitions=self.partitions, resume=False, fused_channel=True,
            )
        self.records[tag] = {"phase_sec": res.get("phase_sec", {})}
        return tr.seconds(s)

    def doc_errors(self, spark) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from pdf2ocr_spark.operators.checkpoint import read_lineage

        with self.tracer.span(f"{self.name}/check/operators.checkpoint.read_lineage", spark):
            row = read_lineage(spark, self.out_dir).agg(
                F.sum("doc_count").alias("docs"), F.sum(F.size("errors")).alias("errors")
            ).first()
        return int(row["docs"] or 0), int(row["errors"] or 0)

    def out_bytes(self) -> int:
        total = 0
        for base, _, names in os.walk(os.path.join(self.out_dir, "combined")):
            total += sum(os.path.getsize(os.path.join(base, n)) for n in names)
        return total

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from pdf2ocr_spark.operators.checkpoint import read_spans, run_checkpointed

        failures = []
        docs, errors = self.doc_errors(spark)
        if docs != self.n_docs:
            failures.append(f"lineage doc_count {docs} != input docs {self.n_docs}")
        if errors:
            failures.append(f"{errors} doc errors in the lineage")
        with self.tracer.span(f"{self.name}/check/operators.checkpoint.resume", spark) as r:
            again = run_checkpointed(
                spark, self._small(spark), self.out_dir,
                num_partitions=self.partitions, resume=True, fused_channel=True,
            )
        self.resume_s = self.tracer.seconds(r)
        if again["processed"]:
            failures.append(f"the no-op resume processed {again['processed']} partitions")
        ids = [str(d) for d in self._sample()[0]]
        with self.tracer.span(f"{self.name}/check/operators.checkpoint.read_spans", spark):
            rows = (
                read_spans(spark, self.out_dir)
                .where(F.col("doc_id").isin(ids))
                .select("doc_id", "kind", "text", "media_ref", "offset")
                .collect()
            )
        return failures + self._rows_match(rows, "checkpoint output")


class ExtractNested(Workload):
    """The north-star input shape: a nested ``docs(doc_id, spans)`` table,
    materialized from the input during set-up and pre-striped into
    ``partitions`` files, read through ``extract_spans_arrow`` into a noop
    sink. No shuffle, docgen or write runs in an operation, so the scan,
    the nested Arrow -> Python decode and ``kernel.emit`` carry the work.

    Its traced run also measures the dedup layer (see ``traced_extra``)."""

    name = "extract_nested"
    parts = ("extract_spans_arrow",)
    partitions = 16
    warm_ops = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.nested_dir = os.path.join(self.work_dir, "nested")

    def generate(self, spark) -> None:
        from pdf2ocr_spark.operators.docgen import documents_to_docs
        from pdf2ocr_spark.pipeline import load_documents, stripe_documents

        super().generate(spark)
        documents = stripe_documents(load_documents(spark, self.sf_dir), self.partitions)
        documents_to_docs(documents).write.mode("overwrite").parquet(self.nested_dir)

    def input_stats(self) -> dict:
        stats = super().input_stats()
        stats["nested_bytes"] = sum(
            os.path.getsize(os.path.join(self.nested_dir, n))
            for n in os.listdir(self.nested_dir)
            if n.endswith(".parquet")
        )
        return stats

    def op(self, spark, tag: str, part: str) -> float:
        from pdf2ocr_spark.operators.extract import extract_spans_arrow

        tr = self.tracer
        with tr.span(f"{self.name}/{tag}/operators.extract.extract_spans_arrow", spark) as s:
            extract_spans_arrow(spark.read.parquet(self.nested_dir)).write.format(
                "noop"
            ).mode("overwrite").save()
        return tr.seconds(s)

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from pdf2ocr_spark.operators.extract import extract_spans_arrow

        ids = [str(d) for d in self._sample()[0]]
        with self.tracer.span(f"{self.name}/check/operators.extract.extract_spans_arrow", spark):
            docs = spark.read.parquet(self.nested_dir).where(F.col("doc_id").isin(ids))
            rows = extract_spans_arrow(docs).collect()
        return self._rows_match(rows, "extract_spans_arrow output")

    def traced_extra(self, spark) -> tuple[Workload, list[str], list[str]]:
        """The dedup layer: the five dedup queries on their own
        ``DEDUP_DOCS``-doc input drawn from the same seed. One warm round
        collects the results that the DuckDB oracles check, then
        ``DEDUP_TRACED_ROUNDS`` rounds run labelled."""
        dedup = Dedup(os.path.join(self.work_dir, "dedup"), self.seed, DEDUP_DOCS, self.tracer)
        dedup.generate(spark)
        dedup.warm(spark)
        tags = [f"d{i}" for i in range(DEDUP_TRACED_ROUNDS)]
        for tag in tags:
            for part in dedup.parts:
                dedup.op(spark, tag, part)
        return dedup, tags, dedup.check(spark)


class Dedup(Workload):
    """The training-data dedup set through ``plans.QUERIES``, each query
    to a noop sink; one op is one query, one round the five-query set."""

    name = "dedup"
    parts = DEDUP_QUERIES

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.spark_digest: dict[str, tuple] = {}
        self.oracle_digest: dict[str, tuple] = {}

    def _oracle(self) -> None:
        """DuckDB runs ``ORACLE_SQL`` for the five queries. The
        ``dedup_applied`` oracle is ``WITH clusters AS (<the dedup_clusters
        oracle>) <outer query>``, so its recursive CTE is evaluated once:
        the outer query runs over a table holding the clusters oracle's
        result."""
        import duckdb

        from pdf2ocr_spark.plans import ORACLE_SQL

        clusters_sql = ORACLE_SQL["dedup_clusters"]
        head, _, outer = ORACLE_SQL["dedup_applied"].partition(
            f"WITH clusters AS ({clusters_sql})"
        )
        con = duckdb.connect()
        try:
            if not outer or head.strip():
                raise ValueError("dedup_applied's oracle no longer wraps the clusters oracle")
            con.execute("SET threads TO 2")
            con.execute(f"SET temp_directory = '{os.path.join(self.work_dir, 'duckdb')}'")
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for q in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash"):
                self.oracle_digest[q] = result_digest(con.execute(ORACLE_SQL[q]).df())
            con.execute(f"CREATE TEMP TABLE clusters AS {clusters_sql}")
            self.oracle_digest["dedup_clusters"] = result_digest(
                con.execute("SELECT * FROM clusters").df()
            )
            self.oracle_digest["dedup_applied"] = result_digest(con.execute(outer).df())
        except Exception as exc:  # reported by check(), not a crash
            self.oracle_digest["error"] = (0, repr(exc))
        finally:
            con.close()

    def warm(self, spark) -> None:
        """One warm round, which collects every query's result while DuckDB
        runs the oracles on two threads alongside. A second round would not
        fit in the run budget (see README.md)."""
        from pdf2ocr_spark.plans import QUERIES

        oracle = threading.Thread(target=self._oracle)
        oracle.start()
        try:
            for q in DEDUP_QUERIES:
                with self.tracer.span(f"{self.name}/warm/functions.dedup.{q}", spark):
                    self.spark_digest[q] = result_digest(QUERIES[q](spark, self.sf_dir).toPandas())
        finally:
            oracle.join()

    def op(self, spark, tag: str, part: str) -> float:
        from pdf2ocr_spark.plans import QUERIES

        tr = self.tracer
        with tr.span(f"{self.name}/{tag}/functions.dedup.{part}.construct", spark) as c:
            df = QUERIES[part](spark, self.sf_dir)
        with tr.span(f"{self.name}/{tag}/functions.dedup.{part}.eval", spark) as e:
            df.write.format("noop").mode("overwrite").save()
        self.records.setdefault(tag, {})[part] = {
            "construct_s": tr.seconds(c), "eval_s": tr.seconds(e)
        }
        return tr.seconds(c) + tr.seconds(e)

    def check(self, spark) -> list[str]:
        if "error" in self.oracle_digest:
            return [f"oracle failed: {self.oracle_digest['error'][1]}"]
        return [
            f"{q}: spark (rows, hash) {self.spark_digest[q]} != oracle {self.oracle_digest[q]}"
            for q in DEDUP_QUERIES
            if self.spark_digest[q] != self.oracle_digest[q]
        ]


WORKLOADS = {w.name: w for w in (ExtractCkpt, ExtractNested, Dedup)}
