"""Extraction + dedup benchmark of the pdf2ocr_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload extract_ckpt --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke            # every workload on 500 docs

One closed-loop client: a single driver process at ``local[4]`` runs one
Spark job at a time. A run generates its inputs from ``--seed``, launches
the JVM, sets up ``SETUP_ROUNDS`` more times in it (session start, input
generation, Python-worker warm-up) and reports the median as ``setup_s``,
runs an untimed warm pass, then runs operations for ``--seconds`` and
checks the outputs once.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs half the
time untraced, restarts the session with the Spark event log on, runs the
other half with every call labelled, and prints the per-layer metrics
(see layers.py) with the tracing overhead. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. Spans, input statistics and the full table are written to
``.perfbench_out/``; scratch data lives in ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from workloads import DEDUP_DOCS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

CORES = 4
SETUP_ROUNDS = 3
DOCS = {"extract_ckpt": 5_000, "extract_nested": 10_000, "dedup": DEDUP_DOCS}
SMOKE_DOCS = 500

E2E_UNITS = {
    "docs_per_s": "doc/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_py_rss_mb": "MB",
    "setup_s": "s",
}


def _warm_workers(batches):
    """Runs in each Python worker: imports the kernels and their native
    dependencies so the first timed task does not pay for them."""
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    import pdf2ocr_spark.kernel.docgen  # noqa: F401
    import pdf2ocr_spark.kernel.emit  # noqa: F401

    yield from batches


class Runner:
    """One benchmark run of one workload, in this process."""

    def __init__(self, workload_cls, seed, seconds, trace, n_docs, rounds, sampler):
        from workloads import Tracer

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rounds = rounds
        self.sampler = sampler
        self.work = os.path.join(WORK_ROOT, f"{workload_cls.name}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = Tracer()
        self.wl = workload_cls(self.work, seed, n_docs, self.tracer)
        self.spark = None
        self.failed = 0
        self.attempted = 0

    def _confs(self, event_log: str | None) -> dict:
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            confs["spark.eventLog.dir"] = event_log
            confs["spark.eventLog.compress"] = "false"
        return confs

    def _start(self, event_log: str | None = None) -> float:
        from pdf2ocr_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span(f"{self.wl.name}/setup/session.get_spark") as s:
            self.spark = get_spark(
                app_name=f"perfbench-{self.wl.name}",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_confs=self._confs(event_log),
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.tracer.seconds(s)

    def _warm_workers(self) -> float:
        with self.tracer.span(f"{self.wl.name}/setup/session.worker_warm", self.spark) as s:
            self.spark.range(0, CORES, numPartitions=CORES).mapInArrow(
                _warm_workers, "id long"
            ).collect()
        return self.tracer.seconds(s)

    def _setup_round(self) -> dict:
        r = {"session.start_s": self._start()}
        with self.tracer.span(f"{self.wl.name}/setup/generate") as s:
            self.wl.generate(self.spark)
        r["setup.generate_s"] = self.tracer.seconds(s)
        r["session.worker_warm_s"] = self._warm_workers()
        r["total"] = sum(r.values())
        return r

    def setup(self) -> dict:
        """A first round launches the JVM; ``setup_s`` is the median of the
        ``rounds`` rounds after it, each a new session in that JVM."""
        launch = self._setup_round()
        rounds = [self._setup_round() for _ in range(self.rounds)]
        out = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
        out["setup_s"] = out.pop("total")
        out["session.jvm_launch_s"] = launch["total"]
        out["rounds"] = [launch] + rounds
        return out

    def loop(self, prefix: str, seconds: float) -> dict:
        """Closed loop of rounds of the workload's operations. The first
        round runs in full. After it, an operation starts only if the median
        of its earlier walls predicts that it ends within ``seconds``. The
        metrics add up, over one round, the median wall and the median
        process-tree CPU of each operation."""
        parts = self.wl.parts
        walls = {p: [] for p in parts}
        cpus = {p: [] for p in parts}
        tries = {p: [] for p in parts}
        rounds = []
        with self.sampler.window() as win:
            t0 = time.perf_counter()
            cpu = self.sampler.cpu_s()
            for i in itertools.count():
                tag = f"{prefix}{i}"
                for part in parts:
                    if rounds and (
                        time.perf_counter() - t0 + statistics.median(tries[part]) > seconds
                    ):
                        break
                    self.attempted += 1
                    t_op = time.perf_counter()
                    try:
                        wall = self.wl.op(self.spark, tag, part)
                    except Exception:
                        self.failed += 1
                        traceback.print_exc(file=sys.stderr)
                        wall = None
                    tries[part].append(time.perf_counter() - t_op)
                    before, cpu = cpu, self.sampler.cpu_s()
                    if wall is not None:
                        walls[part].append(wall)
                        cpus[part].append(cpu - before)
                else:
                    rounds.append(tag)
                    continue
                break
        ok = all(walls.values())
        kdocs = self.wl.n_docs / 1000
        return {
            "rounds": rounds,
            "ops": sum(len(t) for t in tries.values()),
            "walls": walls,
            "docs_per_s": self.wl.n_docs / sum(map(statistics.median, walls.values())) if ok else 0.0,
            "cpu_s_per_kdoc": sum(map(statistics.median, cpus.values())) / kdocs if ok else 0.0,
            "peak_py_rss_mb": win["peak_py_rss_bytes"] / 2**20,
            "peak_jvm_rss_mb": win["peak_jvm_rss_bytes"] / 2**20,
            "host.steal_frac": win["steal_frac"],
        }

    def _count_failures(self, failures: list[str]) -> list[str]:
        self.failed += len(failures)
        return failures

    def check(self) -> list[str]:
        self.attempted += 1  # the warm pass, whose results dedup checks
        try:
            return self._count_failures(self.wl.check(self.spark))
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            return self._count_failures([f"check raised {exc!r}"])

    def run(self) -> dict:
        setup = self.setup()
        with self.tracer.span(f"{self.wl.name}/warm", self.spark):
            self.wl.warm(self.spark)
        result = {
            "workload": self.wl.name,
            "seed": self.seed,
            "input": self.wl.input_stats(),
            "setup": setup,
        }
        if self.trace:
            metrics, table, failures = self._traced(setup, result)
        else:
            timed = self.loop("op", self.seconds)
            failures = self.check()
            metrics = {k: timed[k] for k in ("docs_per_s", "cpu_s_per_kdoc", "peak_py_rss_mb")}
            metrics["setup_s"] = setup["setup_s"]
            result["timed"] = timed
            table = {k: (metrics[k], E2E_UNITS[k]) for k in E2E_UNITS}
            table.update(self._printed_e2e(timed))
        result.update(failures=failures, table=table, spans=self.tracer.spans)
        result["line"] = {
            "correct": not failures and self.failed == 0,
            "attempted": self.attempted,
            "failed": min(self.failed, self.attempted),
            "metrics": {k: {"value": v, "unit": table[k][1]} for k, v in metrics.items()},
        }
        return result

    def _traced(self, setup: dict, result: dict) -> tuple[dict, dict, list[str]]:
        import eventlog
        import layers
        from workloads import kernel_timings

        untraced = self.loop("u", self.seconds / 2)
        log_dir = os.path.join(self.work, "eventlog")
        self._start(log_dir)
        self._warm_workers()
        self.tracer.label_jobs = True
        traced = self.loop("t", self.seconds / 2)
        failures = self.check()
        extra_wl, extra_tags, extra_failures = self.wl.traced_extra(self.spark)
        if extra_tags:  # the extra rounds' ops, and the warm pass whose results it checks
            self.attempted += len(extra_tags) * len(extra_wl.parts) + 1
        failures += self._count_failures(extra_failures)
        self.tracer.label_jobs = False
        layer = {"spark.jvm_peak_rss_mb": traced["peak_jvm_rss_mb"]}
        if self.wl.name == "extract_ckpt":
            layer["operators.checkpoint.doc_errors"] = self.wl.doc_errors(self.spark)[1]
            layer["operators.checkpoint.out_bytes_per_doc"] = self.wl.out_bytes() / self.wl.n_docs
            layer["operators.checkpoint.resume_s"] = self.wl.resume_s
        self.spark.stop()  # flushes the event log
        self.spark = None
        kernel = kernel_timings()
        calls = eventlog.read(log_dir)
        layer.update(kernel)
        layer.update(layers.per_op(self.wl, traced["rounds"], calls, kernel))
        layer.update(layers.specific(extra_wl, extra_tags, calls, kernel))
        for k in ("session.start_s", "session.jvm_launch_s", "session.worker_warm_s",
                  "setup.generate_s"):
            layer[k] = setup[k]
        layer["trace.docs_per_s_untraced"] = untraced["docs_per_s"]
        layer["trace.docs_per_s_traced"] = traced["docs_per_s"]
        layer["trace.overhead_frac"] = 1 - traced["docs_per_s"] / untraced["docs_per_s"]
        result["untraced"], result["traced"] = untraced, traced
        units = {**layers.PER_LAYER, **layers.WORKLOAD_ONLY[self.wl.name]}
        table = {k: (layer.get(k, 0), u) for k, u in units.items()}
        metrics = {k: table[k][0] for k in layers.PER_LAYER}
        return metrics, table, failures

    def _printed_e2e(self, timed: dict) -> dict:
        """failed_frac and the hypervisor's steal share for every workload;
        resume_s and out_bytes_per_doc for extract_ckpt. Printed, not in
        the JSON metrics, which every workload must report and none may
        read 0 (see README.md)."""
        out = {"failed_frac": (min(self.failed, self.attempted) / self.attempted, "frac")}
        out["host.steal_frac"] = (timed["host.steal_frac"], "frac")
        if self.wl.name == "extract_ckpt":
            out["resume_s"] = (self.wl.resume_s, "s")
            out["out_bytes_per_doc"] = (self.wl.out_bytes() / self.wl.n_docs, "B/doc")
        return out

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def _stop_jvm() -> None:
    """Stops the Spark driver JVM this process launched and waits for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tmp_dir() -> str:
    return os.path.join(WORK_ROOT, f"tmp-{os.getpid()}")


def _prepare_env() -> None:
    """Python workers import the engine and this package through
    PYTHONPATH; every scratch file Spark and the JVM write stays under
    the checkout."""
    sys.path.insert(0, ROOT)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = _tmp_dir()
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def _print(result: dict, trace: bool) -> None:
    print(f"== {result['workload']} seed={result['seed']} input={json.dumps(result['input'])}")
    print(f"   setup rounds (s): {[round(r['total'], 3) for r in result['setup']['rounds']]}")
    for key in ("timed", "untraced", "traced"):
        if key in result:
            t = result[key]
            print(f"   {key}: {t['ops']} operations, {len(t['rounds'])} full rounds")
    print("   per-layer, median over traced calls:" if trace else "   end-to-end:")
    for name, (value, unit) in result["table"].items():
        print(f"   {name:<48} {value:>16.6g} {unit}")
    for f in result["failures"]:
        print(f"   CHECK FAILED: {f}")


def _save(result: dict, trace: bool) -> None:
    os.makedirs(OUT_ROOT, exist_ok=True)
    path = os.path.join(OUT_ROOT, f"{result['workload']}-seed{result['seed']}-trace{int(trace)}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({k: v for k, v in result.items() if k != "line"}, f, indent=1, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"run every workload on {SMOKE_DOCS} docs for about 1 s each")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isdir(os.path.join(ROOT, "pdf2ocr_spark")):
        print(f"perfbench: no pdf2ocr_spark package under {ROOT}", file=sys.stderr)
        return 2

    _prepare_env()
    from procmon import TreeSampler
    from workloads import WORKLOADS

    if args.smoke:
        plan = [(name, SMOKE_DOCS, 1.0, 1) for name in WORKLOADS]
    else:
        plan = [(args.workload, DOCS[args.workload], args.seconds, SETUP_ROUNDS)]
    sampler = TreeSampler().start()
    lines = []
    try:
        for name, n_docs, seconds, rounds in plan:
            runner = Runner(WORKLOADS[name], args.seed, seconds, bool(args.trace),
                            n_docs, rounds, sampler)
            try:
                result = runner.run()
            finally:
                runner.close()
            _print(result, bool(args.trace))
            _save(result, bool(args.trace))
            lines.append(result["line"])
    finally:
        sampler.stop()
        _stop_jvm()
        shutil.rmtree(_tmp_dir(), ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run's files are still there
            pass
    for line in lines:
        print(json.dumps(line))
    return 0 if not args.smoke or all(line["correct"] for line in lines) else 1


if __name__ == "__main__":
    sys.exit(main())
