"""The Spark runtime under the benchmark: session start and stop,
Spark's own counters read through py4j (``AppStatusStore``,
``CodegenMetrics``, the GC and memory-pool MXBeans), resident memory,
and parquet footer byte accounting for the scans of an executed plan.
"""

from __future__ import annotations

import os
import subprocess
from importlib import import_module
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

#: the engine package, at the root of the checkout
PKG = "bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark"


def engine(module: str):
    """An engine module, imported on first use: the package imports
    pyspark, which only the benchmark process (not its tests) needs."""
    return import_module(f"{PKG}.{module}")


def cores() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else len(os.sched_getaffinity(0))


def task_slots(n_cores: int) -> int:
    """Spark task threads: one core fewer than the box has, so the
    client, the driver's planning and the JIT and GC threads keep a core
    of their own instead of preempting tasks."""
    return max(1, n_cores - 1)


def heap_mb() -> int:
    """Driver heap: an eighth of physical memory, between 1 and 4 GiB.
    The corpus is a few MB; the rest is Spark's working set."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return int(min(4096, max(1024, phys_mb // 8)))


def start_session(tmp_dir: str, n_cores: int):
    """A local-mode session with the JVM's temp dir and the warehouse
    under ``tmp_dir`` (Spark's local dirs come from SPARK_LOCAL_DIRS), no
    UI, no console progress and JVM logging off. Status-store
    retention is raised so every job of a run stays readable. The heap
    is fixed and touched at start, so the JVM's resident size does not
    depend on how far the collector happened to grow it."""
    spark = engine("session").get_spark(
        app_name="bfann-perfbench",
        cpus=str(task_slots(n_cores)),
        extra_conf={
            "spark.driver.memory": f"{heap_mb()}m",
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb()}m -XX:+AlwaysPreTouch -Xlog:disable -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp_dir}"
            ),
            "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


# ---------------------------------------------------------------------------
# Spark's counters
# ---------------------------------------------------------------------------

def _ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


class Counters:
    """Reads per-job-group totals from the status store and JVM-wide
    totals from the MXBeans. Every read is a py4j call: call it outside
    timed regions, or inside traced ones only."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        mf = jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        self.gc_beans = [gcs.get(i) for i in range(gcs.size())]
        pools = mf.getMemoryPoolMXBeans()
        self.heap_pools = [
            pools.get(i) for i in range(pools.size())
            if str(pools.get(i).getType().toString()) == "Heap memory"
        ]
        self.compile_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def group(self, group: str) -> dict:
        """Totals over the jobs tagged ``group``: jobs, stages and tasks
        run, input / shuffle bytes, task busy time, stage queueing and
        the wall-clock intervals in which a job was running (epoch ms)."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "task_busy_ms": 0, "sched_wait_ms": 0,
               "job_spans": []}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                out["job_spans"].append((start, end))
            sids = job.stageIds()
            for i in range(sids.size()):
                st = self.store.lastStageAttempt(sids.apply(i))
                if str(st.status().toString()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["task_busy_ms"] += st.executorRunTime()
                sub, first = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    out["sched_wait_ms"] += max(0, first - sub)
        return out

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.gc_beans))

    def compiles(self) -> tuple[int, float]:
        """(janino compilations so far, mean compile ms of the retained
        samples)."""
        return int(self.compile_hist.getCount()), float(self.compile_hist.getSnapshot().getMean())

    def live_heap_mb(self) -> float:
        """Heap in use right after the latest collection of each pool:
        the live data, where the plain peak would only show how far the
        collector let garbage pile up."""
        return sum(p.getCollectionUsage().getUsed() for p in self.heap_pools) / 2**20


def busy_union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Resident memory
# ---------------------------------------------------------------------------

def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM peak RSS, peak RSS of this process plus the Python workers
    the JVM forked), in MB."""
    jvm = jvm_pid(spark)
    python = _hwm_mb(os.getpid()) + sum(_hwm_mb(p) for p in _descendants(jvm))
    return _hwm_mb(jvm), python


# ---------------------------------------------------------------------------
# Footer byte accounting
# ---------------------------------------------------------------------------

def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path)


class Footers:
    """Projected column-chunk bytes of parquet files, read from their
    footers (memoized per file)."""

    def __init__(self):
        self._meta: dict[str, pq.FileMetaData] = {}

    def meta(self, path: str) -> pq.FileMetaData:
        if path not in self._meta:
            self._meta[path] = pq.ParquetFile(path).metadata
        return self._meta[path]

    def column_bytes(self, path: str) -> dict[str, int]:
        """Top-level column → compressed chunk bytes over all row groups."""
        md = self.meta(path)
        out: dict[str, int] = {}
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                top = chunk.path_in_schema.split(".")[0]
                out[top] = out.get(top, 0) + chunk.total_compressed_size
        return out

    def rows(self, files: list[str]) -> int:
        return sum(self.meta(f).num_rows for f in files)

    def scan_bytes(self, files: list[str], columns: list[str]) -> int:
        """Bytes one full read of ``columns`` fetches: their chunks plus
        each file's footer."""
        total = 0
        for f in files:
            cb = self.column_bytes(f)
            total += sum(cb.get(c, 0) for c in columns)
            total += self.meta(f).serialized_size + 8
        return total


def data_files(root: str) -> list[str]:
    """Every parquet data file under ``root``."""
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return sorted(out)


def plan_scans(df) -> list[dict]:
    """The file scans an executed DataFrame ran: their files, read
    columns and schema, and the rows they produced over all their
    executions. Each scan node and each cached relation is visited
    once, however many plan nodes refer to it."""
    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    scans = []

    def once(obj) -> bool:
        h = jvm.java.lang.System.identityHashCode(obj)
        if h in seen:
            return False
        seen.add(h)
        return True

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls == "ReusedExchangeExec":
            return
        elif cls == "InMemoryTableScanExec":
            if once(node.relation().cacheBuilder()):
                walk(node.relation().cachedPlan())
        elif cls == "FileSourceScanExec":
            if once(node):
                scans.append({
                    "files": sorted(_local_path(u) for u in node.relation().location().inputFiles()),
                    "columns": list(node.requiredSchema().fieldNames()),
                    "schema": node.requiredSchema().json(),
                    "rows_out": int(node.metrics().apply("numOutputRows").value()),
                })
        else:
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return scans


def scan_bytes(footers: Footers, scan: dict) -> float:
    """Storage bytes a scan read: one full read of its projected chunks
    per execution, where executions = rows produced ÷ rows in its files."""
    rows = footers.rows(scan["files"])
    return footers.scan_bytes(scan["files"], scan["columns"]) * scan["rows_out"] / rows if rows else 0.0


def read_bytes(pid: int) -> int:
    """Bytes the process has read through read() calls so far
    (``rchar`` in /proc/<pid>/io)."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError(f"no rchar for pid {pid}")


def check_byte_model(spark, footers: Footers, scans: list[dict]) -> list[tuple[int, int, int]]:
    """(bytes the JVM read, footer-computed bytes, files) for each scan
    read again on its own into a no-op sink, once warm. Spark's
    inputBytes cannot serve here: Parquet's vectored reads run on helper
    threads its per-task counter does not see."""
    from pyspark.sql.types import StructType
    import json

    pid = jvm_pid(spark)
    out = []
    for scan in scans:
        schema = StructType.fromJson(json.loads(scan["schema"]))
        read = spark.read.schema(schema).parquet(*scan["files"])
        read.write.format("noop").mode("overwrite").save()
        before = read_bytes(pid)
        read.write.format("noop").mode("overwrite").save()
        out.append((read_bytes(pid) - before, footers.scan_bytes(scan["files"], scan["columns"]),
                    len(scan["files"])))
    return out
