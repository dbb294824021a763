"""Run context shared by the workloads: pinned environment, Spark session,
pack and detection loading, lake listing, and the result line."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import time
from dataclasses import dataclass, field

from perfbench import host
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OKTA_PACK = os.path.join(ROOT, "data", "log_sources", "okta")
CLOUDTRAIL_PACK = os.path.join(ROOT, "data", "log_sources", "aws_cloudtrail")
# the shipped root-credentials pack runs verbatim; brute force runs from
# the benchmark's array-safe copy (README.md, "Findings")
DETECTION_DIRS = (
    os.path.join(ROOT, "data", "detections", "aws_root_credentials"),
    os.path.join(HERE, "detections", "login_brute_force_by_ip"),
)
SETUP_REPEATS = 5
GC_ROUNDS = 3
# Lower tiered-compilation thresholds (defaults: tier 3 at 200 calls, tier
# 4 at 5000): Spark's planner is a large body of code that a default JVM
# keeps compiling for a minute, so how warm the measured part ran varied
# with the host; with these, warm-up levels off about twice as soon.
JIT_OPTIONS = ("-XX:Tier3InvocationThreshold=100 -XX:Tier3MinInvocationThreshold=50 "
               "-XX:Tier3CompileThreshold=1000 -XX:Tier4InvocationThreshold=1500 "
               "-XX:Tier4MinInvocationThreshold=200 -XX:Tier4CompileThreshold=3000 "
               "-XX:Tier4BackEdgeThreshold=12000")


def gc_log(run_dir: str) -> str:
    return os.path.join(run_dir, "gc.log")


def pin_env(run_dir: str) -> int:
    """Pin what the engine reads from the environment before any JVM or
    Python worker starts. Returns the CPU count used for local[N]."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    heap_gb = max(1, min(2, mem_gb // 4))
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # get_spark defaults to 24g; stay well below host RAM
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        # Python workers import matano_spark (mapInPandas)
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # driver JVM only: a fixed, pre-touched heap keeps peak RSS from
        # tracking how far GC happened to grow the heap in this run; the GC
        # log gives the heap occupancy that RSS then no longer shows
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{heap_gb}g -XX:+AlwaysPreTouch '
                               f'-Xlog:gc:file={gc_log(run_dir)} {JIT_OPTIONS}" pyspark-shell',
        "TZ": "UTC",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    })
    time.tzset()
    return cpus


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    run_dir: str
    cpus: int
    spark: object = None
    tracer: Tracer = None
    setup: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """Record one correctness comparison; returns ok."""
        if not ok:
            self.mismatches.append(what)
        return ok

    def start_session(self) -> None:
        from matano_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.setup["session.start_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.trace, self.spark.sparkContext if self.trace else None)

    def repeat_setup(self, name: str, fn):
        """Run a set-up step SETUP_REPEATS times; record the median."""
        times, out = [], None
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        self.setup[name] = statistics.median(times)
        return out

    def timed_setup(self, name: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t
        return out

    def load_packs(self):
        from matano_spark.schema.config import load_log_source

        return self.repeat_setup(
            "transform.pack_compile_s",
            lambda: {"okta": load_log_source(OKTA_PACK),
                     "cloudtrail": load_log_source(CLOUDTRAIL_PACK)},
        )

    def load_detections(self):
        from matano_spark.detections.packs import load_detection

        return self.repeat_setup(
            "detections.load_s", lambda: [load_detection(d) for d in DETECTION_DIRS]
        )

    def plan_build_probe(self, td) -> None:
        """Traced runs only: time applying a TableDef pipeline to a raw
        frame, no action (about 2 s for okta)."""
        if not self.trace:
            return
        from pyspark.sql import functions as F
        from matano_spark.schema.resolve import fields_to_structtype

        schema = fields_to_structtype(td.ingest["input_fields"])
        raw = self.spark.createDataFrame([], "json string").select(
            F.from_json("json", schema).alias("r")).select("r.*")
        t = time.perf_counter()
        td.pipeline(raw)
        self.layer["transform.plan_build_s"] = time.perf_counter() - t

    def stop(self) -> None:
        """Stop Spark, the JVM and every process this run started, and wait
        until each has ended (Python workers are the JVM's children, so
        they are collected before it goes)."""
        started = host.descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate, never hang
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 15
        while True:
            left = [p for p in set(started + host.descendants(os.getpid())) if _alive(p)]
            if not left:
                break
            if time.monotonic() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 15
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def retained_heap_mb(spark) -> float:
    """Driver heap in use right after a full collection: what the engine
    keeps reachable (caches, broadcasts, state, plans) at that point. The
    first collection lets Spark's cleaner drop blocks of broadcasts and
    frames that are no longer referenced; the last one measures."""
    jvm = spark.sparkContext._jvm
    for _ in range(GC_ROUNDS - 1):
        jvm.System.gc()
        time.sleep(0.5)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1024 * 1024)


def lake_stats(table_dir: str) -> dict:
    """File count, bytes and files per hour partition of a lake table
    directory (parquet data files only)."""
    files = size = 0
    parts = 0
    for dirpath, _dirs, names in os.walk(table_dir):
        data = [n for n in names if n.endswith(".parquet")]
        if data and os.path.basename(dirpath).startswith("ts_hour="):
            parts += 1
        files += len(data)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in data)
    return {
        "lake.files": files,
        "lake.bytes": size,
        "lake.files_per_partition": files / parts if parts else 0.0,
    }


def write_objects(dirpath: str, objects: dict[str, bytes]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for name, data in objects.items():
        with open(os.path.join(dirpath, name), "wb") as fh:
            fh.write(data)


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
