"""Run isolation and process-level probes.

Everything a run writes (crawl stores, Spark local dirs, warehouse, metastore,
generated inputs) lives in one per-run directory under the checkout, removed
when the run ends.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time

#: scratch root inside the checkout (listed in .gitignore)
TMP_PARENT = ".perfbench_tmp"
#: JVM heap for the local-mode driver; the machine is shared, so keep it
#: far below physical memory
DRIVER_MEMORY = "3g"
#: Spark keeps this many finished jobs/stages in its status store; it must
#: exceed one crawl round's job count so window counts are complete
RETAINED = "20000"
#: how long the JVM and its Python workers get to exit once told to
EXIT_WAIT_S = 60.0


def make_run_dir(root: str) -> str:
    parent = os.path.join(root, TMP_PARENT)
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=parent)


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


def start_session(root: str, run_dir: str, cores: int):
    """Start the local session through the package's own factory, with every
    path it may write pointed into ``run_dir``."""
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # local-mode Python workers inherit the JVM's environment: without the
    # checkout on their path every UDF task fails to import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # the package honours SPARK_LOCAL_DIRS; unset, local mode would put
    # shuffle and spill files on /dev/shm, outside the checkout. Here they
    # go to the checkout's filesystem, like the crawl stores already do
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # temp files of this process (the gateway's connection file), of the
    # Python workers and of the JVM (artifact dirs, native libraries) go
    # into the run dir too; -UsePerfData drops the JVMs' /tmp/hsperfdata files
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    from web_crawling_prj_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir}/metastore {jvm_opts}"
        ),
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
    }
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    try:
        for t in spark.catalog.listTables():
            if t.name.startswith("wcs_"):  # crawl-store tables (StateStore prefix)
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    finally:
        spark.stop()


def stop_jvm() -> None:
    """End the JVM this process launched and every process under it (the
    Python worker daemon and its workers), and wait until all have exited.

    ``SparkSession.stop`` leaves the JVM running; it exits on its own only
    when its stdin closes, which otherwise happens after this process is
    gone. Safe to call when no JVM was started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = [(pid, _start_time(pid)) for pid in descendants(proc.pid)]
    gateway.shutdown()  # close this side's connections and callback server
    proc.stdin.close()  # the JVM exits on EOF
    deadline = time.monotonic() + EXIT_WAIT_S
    try:
        proc.wait(timeout=EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # workers are the JVM's children, not ours: poll until each has gone
    for pid, started in tree:
        while _alive(pid, started):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        fields = _stat_fields(int(name)) if name.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def _start_time(pid: int) -> str | None:
    fields = _stat_fields(pid)
    return fields[19] if fields else None


def _alive(pid: int, started: str | None) -> bool:
    """True while ``pid`` is the same process and not yet a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z" and fields[19] == started


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's checksum and marker files
    are not counted."""
    total = files = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            if fn.startswith((".", "_")):
                continue
            try:
                total += os.path.getsize(os.path.join(dp, fn))
                files += 1
            except OSError:
                pass
    return total, files


def peak_rss_bytes(root_pid: int | None = None) -> int:
    """Summed peak RSS (VmHWM) of ``root_pid`` and all its descendants: the
    driver, the JVM and the Python workers it forks. Read once after the timed
    work, so no sampler competes with the driver while it is timed."""
    root_pid = root_pid or os.getpid()
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next((ln for ln in f if ln.startswith("VmHWM:")), None)
        except OSError:
            continue
        if hwm:
            total += int(hwm.split()[1]) * 1024
    return total


def noop(df) -> None:
    """Force every column of every row and discard it. ``count()`` would let
    the optimizer prune work the query's result depends on."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *a, **k) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*a, **k)
    return time.perf_counter() - t0, out


# --- cache hygiene ----------------------------------------------------------

def cached_rdds(spark) -> set[int]:
    """Ids of every persisted RDD (DataFrame caches and checkpoints)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def fresh_ring_rdds(spark) -> set[int]:
    """Cache ids of the entries currently in the package's fresh-token ring
    (``operators.textdedup._persist_fresh``). The package bounds the ring and
    tags each entry with a unique literal column, so no later call can be
    served from it."""
    from web_crawling_prj_spark.operators import textdedup

    cm = spark._jsparkSession.sharedState().cacheManager()
    out = set()
    for df in list(textdedup._FRESH_RING):
        cached = cm.lookupCachedData(df._jdf)
        if cached.isDefined():
            out.add(int(cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()))
    return out


def leaked(before: set[int], after: set[int], ring: set[int]) -> list[str]:
    """Cache entries present after a timed call that were not there before
    it, other than entries of the fresh-token ring."""
    return [f"cached rdd {k} left behind" for k in sorted(after - before - ring)]


def leak_check(spark, before: set[int]) -> tuple[list[str], set[int]]:
    after = cached_rdds(spark)
    return leaked(before, after, fresh_ring_rdds(spark)), after
