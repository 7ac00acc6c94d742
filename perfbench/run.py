"""End-to-end benchmark of the copy engine and the pipeline queries.

Run from the repository root:

    python3 perfbench/run.py --workload copy_large --seed 1 --seconds 20 --trace 0

``--workload`` is one of ``copy_large``, ``query_pipeline`` or ``all`` (the
two in turn, in one driver process). Each workload is a closed loop with
one client; an op is one whole pipeline run:

- ``copy_large``: one ``CopyExecutor.run`` over a key-shift-inflated
  lineitem presented as four tables, one per ``bench.bench_layouts()``
  layout, with COUNT-9 logical partitioning.
- ``query_pipeline``: one pass over a fixed list of registry queries, each
  built by its registered builder and run to the noop sink.

A run starts Spark on ``local[nproc]``, generates its inputs
(``datagen.py``; content is fixed, ``--seed`` only orders things), runs
a cold op and an untimed warm-up op, then times ops until their timed
windows fill ``--seconds``. Every op passes a correctness gate outside
its timed window. A JVM GC runs between ops, also outside the window.
``peak_rss_mb`` is the median over timed ops of the resident high-water
mark of the driver process plus the JVM during the op, both reset just
before it.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` it reports the per-layer metrics of traced ops
(``tracing.py``), and the traced ops alternate with untraced ones so the
run can state the tracing overhead. The line before the last is a detail
record: seed, cold and warm-up op times, timed op times, loadavg, CPU
steal, failures. The exit code is 0 only when every op passed its gate.
"""

from __future__ import annotations

T_PROCESS = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from collections.abc import Callable  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("copy_large", "query_pipeline")

# Input sizes (datagen scale factors). ``--tiny`` runs everything at TINY_SF.
LARGE_BASE_SF = 0.01
LARGE_FACTOR = 10
QUERY_SF = 0.01
TINY_SF = 0.001
# The registry queries of one query_pipeline pass (prefixes of their names).
QUERY_LIST = ("q69", "q141")
# Untimed warm-up ops after the first (cold) op, before timing starts.
WARMUP_OPS = 1

# Traced counts that do not repeat exactly from run to run, and why.
INEXACT_COUNTS = {
    "write.shuffle_write_bytes": "compressed shuffle blocks: their size"
    " follows the row order inside each block, which the seeded copy order"
    " and task interleaving set (measured within 0.01% on copy_large)",
    "copy.dest_bytes_per_src_byte": "compressed parquet: same reason"
    " (measured within 0.5% on copy_large)",
    "write.tasks": "adaptive execution coalesces shuffle partitions by their"
    " compressed sizes, which vary as above (measured 52 or 53 on copy_large)",
    "spark.tasks": "includes write.tasks",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading that tells
    a slow machine from a slow program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def reset_hwm(pid: int) -> None:
    """Set the process's resident high-water mark to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def settle_rss(pid: int, quiet: float = 0.3, limit: float = 5.0) -> None:
    """Wait until the process's RSS has stopped falling for ``quiet``
    seconds: G1 hands the heap a full GC shrank back to the OS from a
    background thread, after ``System.gc()`` has returned."""
    t0 = last_drop = time.perf_counter()
    last = status_kb(pid, "VmRSS")
    while (now := time.perf_counter()) - last_drop < quiet and now - t0 < limit:
        time.sleep(0.05)
        rss = status_kb(pid, "VmRSS")
        if rss < last - 1024:
            last_drop = time.perf_counter()
        last = rss


@dataclass
class OpResult:
    seconds: float
    rows: int
    # the correctness gate, run by the caller after any status-store read
    check: Callable[[], list[str]] = list
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    peak_rss_mb: float = 0.0


class Context:
    """What a workload needs: the session, its scratch tree and the seeded
    random order source."""

    def __init__(self, spark, work: Path, seed: int, tiny: bool, fault: str | None,
                 jvm_pid: int | None = None):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.work = work
        self.rng = random.Random(seed)
        self.tiny = tiny
        self.fault = fault
        self.tracer = None
        self.status = None
        self.op_id = 0
        self._n = 0

    def scratch(self, prefix: str) -> Path:
        self._n += 1
        p = self.work / f"{prefix}{self._n}"
        p.mkdir(parents=True)
        return p

    def gc(self) -> None:
        self.spark.sparkContext._jvm.System.gc()

    def span(self, name: str, group: str | None = None):
        return nullcontext() if self.tracer is None else self.tracer.span(name, group)

    def op_span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.op_span(self.op_id, name)


# -- copy workloads -----------------------------------------------------------


def parquet_rows(path: Path) -> int:
    """Row count of a written table, read from the part files' footers
    without Spark."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(p).num_rows for p in sorted(path.glob("*.parquet"))
    )


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet") if p.is_file())


class CopyLarge:
    """One op = one ``CopyExecutor.run`` over ``self.tables`` of ``src``."""

    name = "copy_large"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self) -> None:
        import datagen
        from bench import bench_layouts

        base_sf = TINY_SF if self.ctx.tiny else LARGE_BASE_SF
        factor = 1 if self.ctx.tiny else LARGE_FACTOR
        self._layouts = {f"lineitem_{k}": v for k, v in bench_layouts().items()}
        self.tables = list(self._layouts)
        self.ctx.rng.shuffle(self.tables)
        order = list(range(factor))
        self.ctx.rng.shuffle(order)
        gen = self.ctx.scratch("gen")
        datagen.generate(str(gen), base_sf, names=("lineitem",))
        self.src = self.ctx.scratch("src")
        first = self.src / f"{self.tables[0]}.parquet"
        n = datagen.inflate(str(gen / "lineitem.parquet"), str(first), factor, order)
        shutil.rmtree(gen)
        # the four tables share one file's bytes
        for t in self.tables[1:]:
            os.link(first, self.src / f"{t}.parquet")
        self.rows = {t: n for t in self.tables}
        self.sizes = {"base_sf": base_sf, "factor": factor, "copy_order": order,
                      "tables": len(self.tables), "rows": n * len(self.tables)}

    def op(self, kind: str) -> OpResult:
        from smartbulkcopy_spark.executor import CopyExecutor

        src, rows = self.src, self.rows
        dst = self.ctx.scratch("dst")
        ex = CopyExecutor(
            self.ctx.spark, self.config(src, dst), layouts=self._layouts,
            log=lambda *_: None,
        )
        t0 = time.perf_counter()
        with self.ctx.op_span("executor.run"):
            report = ex.run()
        res = OpResult(time.perf_counter() - t0, sum(rows.values()))
        res.layers["dest_bytes_per_src_byte"] = tree_bytes(dst) / tree_bytes(src)
        if self.ctx.fault == "delete-part" and kind == "timed":
            parts = (dst / f"{self.tables[0]}.parquet").glob("part-*")
            max(parts, key=lambda p: p.stat().st_size).unlink()

        def check():
            errors = self.gate(report, dst, rows)
            shutil.rmtree(dst)
            return errors

        res.check = check
        return res

    def gate(self, report, dst: Path, rows: dict[str, int]) -> list[str]:
        errors = []
        if report.exit_code != 0:
            errors.append(f"exit_code {report.exit_code}: {report.messages}")
        seen = {r.table for r in report.results}
        if seen != set(self.tables):
            errors.append(f"tables copied {sorted(seen)} != {sorted(self.tables)}")
        for r in report.results:
            if not r.content_match:
                errors.append(f"{r.table}: content_match False")
        for t in self.tables:
            n = parquet_rows(dst / f"{t}.parquet")
            if n != rows[t]:
                errors.append(f"{t}: destination has {n} rows, source {rows[t]}")
        return errors

    def config(self, src: Path, dst: Path):
        from smartbulkcopy_spark.config import (
            EngineConfig,
            LogicalPartitioningStrategy,
        )

        return EngineConfig(
            source=str(src), destination=str(dst), tables=list(self.tables),
            max_parallel_tasks=min(nproc(), len(self.tables)),
            logical_partitioning_strategy=LogicalPartitioningStrategy.COUNT,
            logical_partitions=9,
            batch_size=1000,
        )


# -- query workload -----------------------------------------------------------


class QueryPipeline:
    """One op = one pass over ``self.names`` in the seeded order."""

    name = "query_pipeline"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected = json.loads((HERE / "expected.json").read_text())

    def prepare(self) -> None:
        import datagen
        from smartbulkcopy_spark.queries import REGISTRY

        self.names = [
            n for p in QUERY_LIST for n in sorted(REGISTRY) if n.split("_")[0] == p
        ]
        assert len(self.names) == len(QUERY_LIST), self.names
        self.ctx.rng.shuffle(self.names)
        sf = TINY_SF if self.ctx.tiny else QUERY_SF
        d = self.ctx.scratch("src")
        rows = datagen.generate(str(d), sf, names=("documents", "embeddings"))
        self.dir = str(d)
        self.input_rows = {
            "q69": rows["documents"], "q141": rows["embeddings"],
        }
        self.sizes = {"sf": sf, "queries": self.names, "rows": rows}

    def op(self, kind: str) -> OpResult:
        from smartbulkcopy_spark.queries import REGISTRY, release_caches
        from smartbulkcopy_spark.verify import content_fingerprint

        spark, ctx = self.ctx.spark, self.ctx
        outputs = []
        t0 = time.perf_counter()
        with ctx.op_span("query.pass"):
            for name in self.names:
                q = name.split("_")[0]
                with ctx.span(f"query.{q}.build", f"query:{q}:build"):
                    df = REGISTRY[name].fn(spark, self.dir)
                with ctx.span(f"query.{q}.exec", f"query:{q}:exec"):
                    df.write.format("noop").mode("overwrite").save()
                outputs.append((name, df))
        res = OpResult(
            time.perf_counter() - t0,
            sum(self.input_rows[n.split("_")[0]] for n in self.names),
        )

        def check():
            # re-runs each output's plan, so the eager() caches it reads are
            # released only afterwards
            errors = [e for name, df in outputs
                      for e in self.gate(name, content_fingerprint(df))]
            release_caches()
            spark.catalog.clearCache()
            return errors

        res.check = check
        return res

    def gate(self, name: str, got: tuple[int, int]) -> list[str]:
        rows, fp = got
        exp = self.expected["queries"][name]
        errors = []
        if rows != exp["rows"]:
            errors.append(f"{name}: {rows} rows, expected {exp['rows']}")
        if name not in self.expected["rows_only"] and str(fp) != exp["fingerprint"]:
            errors.append(f"{name}: fingerprint {fp}, expected {exp['fingerprint']}")
        return errors


# -- tracing ------------------------------------------------------------------


def install_tracing(ctx: Context) -> None:
    """Patch the layer entry points where their callers look them up."""
    import smartbulkcopy_spark.executor as executor
    from smartbulkcopy_spark.pipeline import dedup
    from smartbulkcopy_spark.queries import eager

    tr = ctx.tracer

    class TracedCatalog(executor.ParquetCatalog):
        def collect_all(self, names):
            with tr.span("catalog.collect"):
                return super().collect_all(names)

    retry = executor.with_retry

    def with_retry(fn, config, *args, **kwargs):
        # _copy_one's first traced call: a zero-length span marks when the
        # table left the pool queue; each attempt gets its own span
        with tr.span("executor.table_start"):
            pass

        def attempt():
            with tr.span("executor.attempt"):
                return fn()

        return retry(attempt, config, *args, **kwargs)

    tr.patch(executor, "ParquetCatalog", TracedCatalog)
    tr.patch(executor, "analyze", tr.wrap(executor.analyze, "planner.analyze"))
    tr.patch(executor, "copy_table", tr.wrap(executor.copy_table, "write", "write"))
    tr.patch(executor, "check_copy", tr.wrap(executor.check_copy, "verify", "verify"))
    tr.patch(executor, "with_retry", with_retry)
    prefix = "smartbulkcopy_spark"
    tr.patch_everywhere(eager, tr.wrap(eager, "query.eager", "eager"), prefix)
    cc = dedup.connected_components
    tr.patch_everywhere(cc, tr.wrap(cc, "dedup.cc", "cc"), prefix)


def layer_metrics(ctx: Context, op_id: int, res: OpResult, jobs, stages,
                  gc_s: float) -> dict[str, float]:
    """Per-layer numbers of one traced op. Layers the workload bypasses
    read 0.

    - ``*.busy_s``, ``*_s`` of a layer: wall time during which at least
      one call of the layer was running (concurrent tables overlap).
    - ``executor.self_s``: the ``CopyExecutor.run`` span minus the time its
      catalog, planner, write and verify spans cover.
    - ``executor.table_wait_s``: mean over tables of the time from op start
      to the table's first call into ``with_retry`` (pool queueing).
    - ``executor.retries``: ``with_retry`` attempts beyond the first.
    - ``write.*``/``verify.*``/``dedup.cc_jobs``: jobs launched under the
      job group the wrapper set; ``query.<q>.jobs``: jobs submitted while
      the query was being built or run.
    - ``copy.scan_rows_per_src_row``: input records read by all of the op's
      stages per source row; ``copy.dest_bytes_per_src_byte``: destination
      parquet bytes per source parquet byte.
    - ``spark.gc_s``: collection time of the JVM's collectors during the op.
    """
    from tracing import covered

    spans = ctx.tracer.op_spans(op_id)
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    root = next(s for s in spans if s.parent is None)

    def iv(name):
        return [(s.start, s.end) for s in by.get(name, [])]

    def busy(name):
        return covered(iv(name))

    def job_stages(pred):
        sel = [j for j in jobs if pred(j)]
        st = [stages[i] for j in sel for i in j["stages"] if i in stages]
        return sel, st

    def group(prefix):
        return lambda j: (j["group"] or "").startswith(prefix)

    m: dict[str, float] = {}
    copy_children = ("catalog.collect", "planner.analyze", "write", "verify")
    m["executor.self_s"] = (
        root.end - root.start - covered([i for n in copy_children for i in iv(n)])
        if root.name == "executor.run" else 0.0
    )
    waits = [s.start - root.start for s in by.get("executor.table_start", [])]
    m["executor.table_wait_s"] = statistics.fmean(waits) if waits else 0.0
    m["executor.retries"] = float(
        len(by.get("executor.attempt", [])) - len(by.get("executor.table_start", []))
    )
    m["catalog.collect_s"] = busy("catalog.collect")
    m["planner.analyze_s"] = busy("planner.analyze")
    for layer in ("write", "verify"):
        sel, st = job_stages(group(layer))
        m[f"{layer}.busy_s"] = busy(layer)
        m[f"{layer}.jobs"] = float(len(sel))
        if layer == "write":
            m["write.tasks"] = float(sum(s["tasks"] for s in st))
            m["write.shuffle_write_bytes"] = float(
                sum(s["shuffle_write_bytes"] for s in st))
    all_stages = list(stages.values())
    records = sum(s["input_records"] for s in all_stages)
    copying = root.name == "executor.run"
    m["copy.scan_rows_per_src_row"] = records / res.rows if copying else 0.0
    m["copy.dest_bytes_per_src_byte"] = res.layers.get("dest_bytes_per_src_byte", 0.0)

    querying = root.name == "query.pass"
    qst = all_stages if querying else []
    m["query.build_s"] = sum(busy(f"query.{q}.build") for q in QUERY_LIST)
    m["query.exec_s"] = sum(busy(f"query.{q}.exec") for q in QUERY_LIST)
    m["query.jobs"] = float(len(jobs)) if querying else 0.0
    m["query.stages"] = float(len(qst))
    m["query.shuffle_write_bytes"] = float(sum(s["shuffle_write_bytes"] for s in qst))
    m["query.spill_bytes"] = float(sum(s["spill_bytes"] for s in qst))
    for q in QUERY_LIST:
        m[f"query.{q}.build_s"] = busy(f"query.{q}.build")
        m[f"query.{q}.exec_s"] = busy(f"query.{q}.exec")
        window = iv(f"query.{q}.build") + iv(f"query.{q}.exec")
        m[f"query.{q}.jobs"] = float(sum(
            1 for j in jobs
            if any(lo <= j["submitted"] <= hi for lo, hi in window)))
    m["query.eager_s"] = busy("query.eager")
    m["query.eager_calls"] = float(len(by.get("query.eager", [])))
    m["dedup.cc_s"] = busy("dedup.cc")
    m["dedup.cc_calls"] = float(len(by.get("dedup.cc", [])))
    m["dedup.cc_jobs"] = float(len(job_stages(group("cc"))[0]))
    m["spark.jobs"] = float(len(jobs))
    m["spark.stages"] = float(len(all_stages))
    m["spark.tasks"] = float(sum(s["tasks"] for s in all_stages))
    m["spark.failed_tasks"] = float(sum(s["failed_tasks"] for s in all_stages))
    m["spark.gc_s"] = gc_s
    return m


# -- driver -------------------------------------------------------------------


def make_workload(name: str, ctx: Context):
    return {"copy_large": CopyLarge, "query_pipeline": QueryPipeline}[name](ctx)


def run_op(wl, kind: str) -> OpResult:
    """One op; an exception counts as a failed op, timed up to the raise."""
    t0 = time.perf_counter()
    try:
        return wl.op(kind)
    except Exception as exc:  # noqa: BLE001 - reported through the gate
        return OpResult(time.perf_counter() - t0, 1, check=lambda: [repr(exc)])


def run_workload(name: str, ctx: Context, seconds: float, trace: bool,
                 ops_limit: int | None, t_start: float) -> dict:
    wl = make_workload(name, ctx)
    wl.prepare()
    warm: list[tuple[str, OpResult]] = []
    ctx.op_id = 0
    extra = 0 if ops_limit is not None else WARMUP_OPS
    for kind in ("cold",) + ("warm",) * extra:
        ctx.op_id += 1
        r = run_op(wl, kind)
        r.errors = r.check()
        warm.append((kind, r))
        ctx.gc()
    if trace:
        from tracing import StatusReader, Tracer

        tracer = Tracer(ctx.spark)
        ctx.status = StatusReader(ctx.spark)
        ctx.status.mark()
    timed: list[OpResult] = []
    traced: list[bool] = []
    layers: list[dict] = []
    pids = (os.getpid(), ctx.jvm_pid)
    t_first = time.perf_counter()
    while True:
        # start another op only if the timed windows, the gates and GCs
        # between them not counted, should stay within ``seconds``; a
        # traced run alternates untraced and traced ops, starting and
        # ending untraced, so warm-up drift cancels out of the overhead
        if ops_limit is not None:
            if len(timed) >= ops_limit:
                break
        elif timed and (not trace or len(timed) >= 3 and len(timed) % 2) and (
            sum(r.seconds for r in timed)
            + statistics.median(r.seconds for r in timed) > seconds
        ):
            break
        ctx.op_id += 1
        on = trace and len(timed) % 2 == 1
        if on:
            ctx.tracer = tracer
            install_tracing(ctx)
            gc0 = ctx.status.gc_seconds()
        # each op's resident high-water mark, read before its gate runs
        settle_rss(ctx.jvm_pid)
        for pid in pids:
            reset_hwm(pid)
        r = run_op(wl, "timed")
        r.peak_rss_mb = sum(status_kb(pid, "VmHWM") for pid in pids) / 1024
        if on:
            gc_s = ctx.status.gc_seconds() - gc0
            tracer.unpatch()
            jobs = ctx.status.new_jobs()
            stages = ctx.status.stages(s for j in jobs for s in j["stages"])
            layers.append(layer_metrics(ctx, ctx.op_id, r, jobs, stages, gc_s))
            ctx.tracer = None
        r.errors = r.check()
        if trace:
            ctx.status.mark()
        timed.append(r)
        traced.append(on)
        ctx.gc()
    return {
        "workload": name,
        # [driver, JVM] resident MB when the marks were reset, and their peaks
        "sizes": wl.sizes,
        "setup_s": t_first - t_start,
        "warm": warm,
        "timed": timed,
        "traced": traced,
        "layers": layers,
        "spans": [s.as_dict() for s in tracer.spans] if trace else [],
    }


def end_to_end(out: dict) -> dict[str, float]:
    timed: list[OpResult] = out["timed"]
    return {
        "setup_s": out["setup_s"],
        "op_p50_s": statistics.median(r.seconds for r in timed),
        "rows_per_s": statistics.median(r.rows / r.seconds for r in timed),
        "peak_rss_mb": statistics.median(r.peak_rss_mb for r in timed),
    }


def per_layer(out: dict, session_s: float) -> dict[str, float]:
    layers = out["layers"]
    metrics = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
    metrics["session.start_s"] = session_s
    on = [r.seconds for r, t in zip(out["timed"], out["traced"]) if t]
    off = [r.seconds for r, t in zip(out["timed"], out["traced"]) if not t]
    metrics["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off)
    return metrics


def units() -> dict[str, str]:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help=f"all inputs at sf{TINY_SF}; a cold op, then one timed"
                         " op (three when traced)")
    ap.add_argument("--inject-fault", choices=("delete-part",), default=None,
                    help="delete one destination part file after each timed copy")
    args = ap.parse_args(argv)

    if not (REPO / "smartbulkcopy_spark").is_dir() or not (REPO / "bench.py").is_file():
        fail(f"the program is not next to the benchmark (looked in {REPO})")
    sys.path[:0] = [str(REPO), str(HERE)]
    unit = units()
    names = WORKLOADS if args.workload == "all" else (args.workload,)

    work = REPO / ".perfbench_work" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # everything Spark, its JVM and its Python workers write stays here
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Spark's Python workers must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    la0, cpu0, probe0 = os.getloadavg(), cpu_ticks(), cpu_probe()
    spark = None
    try:
        from smartbulkcopy_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            cpus=nproc(),
            extra_conf={
                "spark.local.dir": str(work / "spark-local"),
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        ctx = Context(spark, work, args.seed, args.tiny, args.inject_fault, jvm_pid)
        ops_limit = (1 + 2 * args.trace) if args.tiny else None
        outs, t_start = [], T_PROCESS
        for name in names:
            outs.append(run_workload(name, ctx, args.seconds, bool(args.trace),
                                     ops_limit, t_start))
            t_start = time.perf_counter()
        la1, cpu1, probe1 = os.getloadavg(), cpu_ticks(), cpu_probe()
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it so
            # no process outlives the run
            jvm.stdin.close()
            jvm.wait(timeout=120)
        shutil.rmtree(work, ignore_errors=True)

    ticks = [b - a for a, b in zip(cpu0, cpu1)]
    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for out in outs:
        ops = [r for _, r in out["warm"]] + out["timed"]
        failed = sum(1 for r in ops if r.errors)
        detail = {
            "workload": out["workload"], "seed": args.seed, "trace": args.trace,
            "nproc": nproc(), "sizes": out["sizes"], "session_s": session_s,
            "warmup_s": [[k, r.seconds] for k, r in out["warm"]],
            "op_s": [r.seconds for r in out["timed"]],
            "traced": out["traced"],
            "peak_rss_mb": [r.peak_rss_mb for r in out["timed"]],
            "errors": [e for r in ops for e in r.errors],
            "fail_ratio": failed / len(ops),
            "loadavg": [la0, la1],
            "steal_share": ticks[7] / max(1, sum(ticks)),
            "cpu_probe_s": [probe0, probe1],
        }
        if args.trace:
            detail["inexact_counts"] = INEXACT_COUNTS
            metrics = per_layer(out, session_s)
            spans = REPO / ".perfbench_out" / f"spans-{out['workload']}-{args.seed}.json"
            spans.parent.mkdir(exist_ok=True)
            spans.write_text(json.dumps(out["spans"]))
        else:
            metrics = end_to_end(out)
        print(json.dumps(detail))
        final["attempted"] += len(ops)
        final["failed"] += failed
        for k, v in metrics.items():
            key = k if len(outs) == 1 else f"{out['workload']}/{k}"
            final["metrics"][key] = {"value": v, "unit": unit[k]}
    final["correct"] = final["failed"] == 0
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
