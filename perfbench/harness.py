"""What both workloads share: the host's size, the Spark session the
benchmark starts through ``session.get_spark``, stopping it, and the
Spark job counts of a job group."""

from __future__ import annotations

import os


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    ram_gb = mem_kb / 2**20
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_gb, 1),
        # A quarter of the host's RAM, between 1 and 8 GiB.
        "jvm_heap_gb": max(1, min(8, int(ram_gb // 4))),
    }


def start_session(work: str, hw: dict, extra: dict | None = None):
    """``local[nproc]`` with nproc shuffle partitions and a driver heap
    sized from the host's RAM; Spark's scratch space stays under ``work``."""
    from ocr_poc_spark.session import get_spark

    n = hw["nproc"]
    local = os.path.join(work, "spark-local")
    return get_spark(
        "perfbench",
        cpus=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{hw['jvm_heap_gb']}g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            **(extra or {}),
        },
    )


def stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited.
    The Python workers are the JVM's children and end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under the job group ``group``."""
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    infos = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
    return len(jobs), sum(i is not None for i in infos), sum(i.numTasks for i in infos if i)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
