"""Shared run machinery: session start, timed operations with untimed
checks, per-pass bookkeeping and the traced-run attribution."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import sampler
import spans

#: Engine modules whose public functions become spans in the traced run.
TRACED_MODULES = (
    "sources.tables", "sources.store", "operators.concat",
    "operators.general", "operators.joins", "operators.dedup",
    "operators.corpus", "operators.text", "operators.web",
    "operators.sampling", "operators.pq",
    "operators.retrieval", "operators.semantic", "streaming.windows",
    "functions.localrel",
)
PACKAGE = "ons_utils_spark"


def _warm_batches(batches):
    for pdf in batches:
        yield pdf


def _warm_group(pdf):
    return pdf.head(1)


def process_start() -> float:
    """Epoch time at which this process was created."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


@dataclass
class Op:
    pass_no: int
    kind: str
    wall: float = 0.0
    problems: list = field(default_factory=list)
    span: "spans.Span | None" = None


class Bench:
    """One benchmark run: a Spark session, a tracer, and the timed
    operations grouped into passes."""

    def __init__(self, root: str, seed: int, trace: bool, started: float):
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.seed = seed
        self.trace = trace
        self.started = started
        self.tracer = spans.Tracer(enabled=False)
        self.ops: list[Op] = []
        self.first_op_at: float | None = None
        self.layer: dict[str, float] = {}
        self.spark = None

    # -- session ---------------------------------------------------------
    def start_session(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # The JVM that assembles the driver command writes its perf data
        # under /tmp unless told not to.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Python workers import the engine, and this module's warm-up
        # functions, by name.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.path.dirname(os.path.abspath(__file__)),
                        os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None
        from ons_utils_spark.session import get_session

        extra = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench", master=f"local[{cpus}]", extra_configs=extra
        )
        t1 = time.perf_counter()
        # The session's one-off costs: the first job and a parquet scan.
        self.spark.range(1000).count()
        self.spark.read.parquet(os.path.join(self.data, "region.parquet")).collect()
        self.layer["session.start_s"] = t1 - t0
        self.layer["session.warmup_s"] = time.perf_counter() - t1
        if self.trace:
            import importlib

            mods = [f"{PACKAGE}.{m}" for m in TRACED_MODULES]
            for m in mods:
                importlib.import_module(m)
            spans.wrap_modules(self.tracer, mods, PACKAGE)

    def warm_python_workers(self) -> None:
        """Start a Python worker per core for the Arrow map and grouped-map
        paths, so a cold pass measures each operation's own first-run
        cost, not worker start-up."""
        t0 = time.perf_counter()
        spark = self.spark
        n = spark.sparkContext.defaultParallelism
        spark.range(n * 4).repartition(n).mapInPandas(_warm_batches, "id long").count()
        spark.range(n * 4).repartition(n).selectExpr("id % 8 AS g").groupBy(
            "g").applyInPandas(_warm_group, "g long").count()
        self.layer["session.warmup_s"] += time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark, then end the JVM and wait until every process this
        run started has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        started = set(sampler.tree_pids(os.getpid())) - {os.getpid()}
        self.spark.stop()
        self.spark = None
        if proc is not None:
            # The gateway JVM exits when its stdin closes; its Python
            # workers exit with it.
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while (any(os.path.exists(f"/proc/{pid}") for pid in started)
               and time.monotonic() < deadline):
            time.sleep(0.1)

    # -- operations ------------------------------------------------------
    def span(self, name: str, call: bool = False):
        return self.tracer.span(name, call)

    def timed(self, pass_no: int, kind: str, run, check=None) -> Op:
        """Time ``run()``; then, untimed, ``check(result)`` returns a list
        of problems. A raise or any problem fails the operation."""
        op = Op(pass_no, kind)
        self.ops.append(op)
        if self.first_op_at is None:
            self.first_op_at = time.time()
        t0 = time.perf_counter()
        try:
            with self.span(kind) as root:
                result = run()
        except Exception as exc:  # noqa: BLE001 — a failed operation is data
            op.wall = time.perf_counter() - t0
            op.problems.append(f"raised {type(exc).__name__}: {exc}"[:300])
            traceback.print_exc()
            return op
        op.wall = time.perf_counter() - t0
        op.span = root
        if check is not None:
            try:
                op.problems.extend(check(result))
            except Exception as exc:  # noqa: BLE001
                op.problems.append(f"check raised {type(exc).__name__}: {exc}"[:300])
        return op

    def pass_wall(self, pass_no: int) -> float:
        return sum(o.wall for o in self.ops if o.pass_no == pass_no)

    def passes(self) -> list[int]:
        return sorted({o.pass_no for o in self.ops if o.pass_no >= 0})

    def failures(self) -> list[Op]:
        return [o for o in self.ops if o.problems]
