"""Per-layer table of a traced run.

Every value is a median over the traced calls of the run. ``PER_LAYER`` is
what the run prints as JSON: metrics defined on every workload, plus
workload-specific counts that read 0 where their layer does not run.
``WORKLOAD_ONLY`` holds the workload-specific times and rates, and the
times that can read 0 on a short run (Python worker start, GC); they are
printed in the table and written to the run's artifact file only, so that
no time in the JSON reads a constant 0.
"""

from __future__ import annotations

import statistics

from eventlog import PY_RUN, Calls
from workloads import DEDUP_QUERIES

PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_launch_s": "s",
    "session.worker_warm_s": "s",
    "setup.generate_s": "s",
    "kernel.docgen.us_per_doc": "us",
    "kernel.emit.us_per_doc": "us",
    "kernel.emit.us_per_page": "us",
    "kernel.emit.rows_per_doc": "row/doc",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.bytes_to": "B",
    "python.bytes_from": "B",
    "python.rows_from": "count",
    "python.task_s_p50": "s",
    "python.task_s_max": "s",
    "python.task_max_over_p50": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.jobs": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.docs_per_s_untraced": "doc/s",
    "trace.docs_per_s_traced": "doc/s",
    "trace.overhead_frac": "frac",
    "pipeline.stripe.shuffle_write_bytes": "B",
    "operators.checkpoint.bytes_written": "B",
    "operators.checkpoint.files_written": "count",
    "operators.checkpoint.doc_errors": "count",
    "operators.checkpoint.out_bytes_per_doc": "B/doc",
    "operators.extract.bytes_to_python": "B",
    "operators.extract.bytes_from_python": "B",
    "operators.extract.rows_from_python": "count",
    "operators.extract.scan_bytes": "B",
    **{
        f"functions.dedup.{q}.{m}": u
        for q in DEDUP_QUERIES
        for m, u in (("jobs", "count"), ("shuffle_bytes", "B"), ("spill_bytes", "B"))
    },
}

WORKLOAD_ONLY = {
    "extract_ckpt": {
        "python.boot_s": "s",
        "spark.gc_s": "s",
        "operators.checkpoint.glue_s": "s",
        "pipeline.stripe.stage_s": "s",
        "operators.checkpoint.kernel_write_s": "s",
        "operators.checkpoint.verify_s": "s",
        "operators.checkpoint.resume_check_s": "s",
        "operators.checkpoint.commit_s": "s",
        "operators.checkpoint.resume_s": "s",
    },
    "extract_nested": {
        "python.boot_s": "s",
        "spark.gc_s": "s",
        "operators.extract.python_s": "s",
        "operators.extract.python_init_s": "s",
        "operators.extract.glue_s": "s",
        "operators.extract.task_s_p50": "s",
        "operators.extract.task_s_max": "s",
        "operators.extract.task_max_over_p50": "ratio",
        **{
            f"functions.dedup.{q}.{m}": "s"
            for q in DEDUP_QUERIES
            for m in ("construct_s", "eval_s", "python_s")
        },
    },
    "dedup": {
        "python.boot_s": "s",
        "spark.gc_s": "s",
        **{
            f"functions.dedup.{q}.{m}": "s"
            for q in DEDUP_QUERIES
            for m in ("construct_s", "eval_s", "python_s")
        },
    },
}


def _merge(calls: list[Calls]) -> Calls:
    out = Calls()
    for c in calls:
        out.jobs += c.jobs
        out.stages |= c.stages
        out.tasks += c.tasks
        out.cpu_ns += c.cpu_ns
        out.gc_ms += c.gc_ms
        out.shuffle_write_bytes += c.shuffle_write_bytes
        out.spill_bytes += c.spill_bytes
        out.input_bytes += c.input_bytes
        out.sql.update(c.sql)
        out.python_task_ms.extend(c.python_task_ms)
        out.stage_info.update(c.stage_info)
    return out


def _python(c: Calls, prefix: str) -> dict:
    """The Python-worker boundary of the calls: SQL metrics of the plan
    nodes that run Python workers, and the wall of their stages' tasks."""
    py_nodes = {node for node, name in c.sql if name == PY_RUN}
    task_s = sorted(t / 1000 for t in c.python_task_ms)
    p50 = statistics.median(task_s) if task_s else 0.0
    top = task_s[-1] if task_s else 0.0
    return {
        f"{prefix}run_s": c.sql_sum(PY_RUN) / 1000,
        f"{prefix}boot_s": c.sql_sum(PY_BOOT) / 1000,
        f"{prefix}init_s": c.sql_sum(PY_INIT) / 1000,
        f"{prefix}bytes_to": c.sql_sum("data sent to Python workers"),
        f"{prefix}bytes_from": c.sql_sum("data returned from Python workers"),
        f"{prefix}rows_from": sum(
            v for (node, name), v in c.sql.items()
            if node in py_nodes and name == "number of output rows"
        ),
        f"{prefix}task_s_p50": p50,
        f"{prefix}task_s_max": top,
        f"{prefix}task_max_over_p50": top / p50 if p50 else 0.0,
    }


def _spark(c: Calls) -> dict:
    return {
        "spark.executor_cpu_s": c.cpu_ns / 1e9,
        "spark.gc_s": c.gc_ms / 1000,
        "spark.tasks": c.tasks,
        "spark.stages": len(c.stages),
        "spark.jobs": c.jobs,
        "spark.shuffle_write_bytes": c.shuffle_write_bytes,
        "spark.spill_bytes": c.spill_bytes,
        "spark.input_bytes": c.input_bytes,
    }


def _ckpt(wl, tag: str, ops: dict[str, Calls], kernel: dict) -> dict:
    job = ops.get("operators.checkpoint.run_checkpointed", Calls())
    stripe = [(wall, wrote) for wall, wrote, py in job.stage_info.values() if wrote and not py]
    phase = wl.records[tag]["phase_sec"]
    kernel_us = kernel["kernel.docgen.us_per_doc"] + kernel["kernel.emit.us_per_doc"]
    return {
        "operators.checkpoint.glue_s": job.sql_sum(PY_RUN) / 1000 - wl.n_docs * kernel_us / 1e6,
        "pipeline.stripe.shuffle_write_bytes": sum(w for _, w in stripe),
        "pipeline.stripe.stage_s": sum(t for t, _ in stripe) / 1000,
        "operators.checkpoint.kernel_write_s": phase.get("kernel_write", 0.0),
        "operators.checkpoint.verify_s": phase.get("verify", 0.0),
        "operators.checkpoint.resume_check_s": phase.get("resume_check", 0.0),
        "operators.checkpoint.bytes_written": job.sql_sum("written output", WRITE_NODE),
        "operators.checkpoint.files_written": job.sql_sum("number of written files", WRITE_NODE),
        "operators.checkpoint.commit_s": (
            job.sql_sum("job commit time", WRITE_NODE) + job.sql_sum("task commit time", WRITE_NODE)
        ) / 1000,
    }


def _nested(wl, tag: str, ops: dict[str, Calls], kernel: dict) -> dict:
    """The ``operators.extract`` layer: the Python stage of
    ``extract_spans_arrow`` and its scan."""
    c = ops.get("operators.extract.extract_spans_arrow", Calls())
    py = _python(c, "")
    return {
        "operators.extract.python_s": py["run_s"],
        "operators.extract.python_init_s": py["init_s"],
        "operators.extract.bytes_to_python": py["bytes_to"],
        "operators.extract.bytes_from_python": py["bytes_from"],
        "operators.extract.rows_from_python": py["rows_from"],
        "operators.extract.glue_s": py["run_s"] - wl.n_docs * kernel["kernel.emit.us_per_doc"] / 1e6,
        "operators.extract.scan_bytes": c.sql_sum("size of files read", "Scan parquet"),
        "operators.extract.task_s_p50": py["task_s_p50"],
        "operators.extract.task_s_max": py["task_s_max"],
        "operators.extract.task_max_over_p50": py["task_max_over_p50"],
    }


def _dedup(wl, tag: str, ops: dict[str, Calls], kernel: dict) -> dict:
    out = {}
    for q in DEDUP_QUERIES:
        c = _merge([ops.get(f"functions.dedup.{q}.{part}", Calls()) for part in ("construct", "eval")])
        pre = f"functions.dedup.{q}"
        out[f"{pre}.jobs"] = c.jobs
        out[f"{pre}.shuffle_bytes"] = c.shuffle_write_bytes
        out[f"{pre}.spill_bytes"] = c.spill_bytes
        out[f"{pre}.python_s"] = c.sql_sum(PY_RUN) / 1000
        out[f"{pre}.construct_s"] = wl.records[tag][q]["construct_s"]
        out[f"{pre}.eval_s"] = wl.records[tag][q]["eval_s"]
    return out


_SPECIFIC = {"extract_ckpt": _ckpt, "extract_nested": _nested, "dedup": _dedup}


def _ops(wl, tag: str, calls: dict[str, Calls]) -> dict[str, Calls]:
    """Layer call -> aggregates, for the calls of one op."""
    prefix = f"{wl.name}/{tag}/"
    return {d[len(prefix):]: c for d, c in calls.items() if d.startswith(prefix)}


def _median(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


def per_op(wl, tags: list[str], calls: dict[str, Calls], kernel: dict) -> dict:
    """Median over the full rounds ``tags`` of every per-round layer metric."""
    rows = []
    for tag in tags:
        ops = _ops(wl, tag, calls)
        merged = _merge(list(ops.values()))
        rows.append({**_python(merged, "python."), **_spark(merged),
                     **_SPECIFIC[wl.name](wl, tag, ops, kernel)})
    return _median(rows)


def specific(wl, tags: list[str], calls: dict[str, Calls], kernel: dict) -> dict:
    """Median over the rounds ``tags`` of ``wl``'s own layer metrics only
    (the dedup rounds of a traced ``extract_nested`` run)."""
    return _median([_SPECIFIC[wl.name](wl, tag, _ops(wl, tag, calls), kernel) for tag in tags])
