"""Host descriptor stamped on every record.

Two records are comparable only when their descriptors are equal: a
ratio across core counts, heaps or versions measures the host, not the
change.
"""

from __future__ import annotations

import os
import platform
import subprocess


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_gb() -> int:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return round(kb / (1024 * 1024))


def descriptor() -> dict:
    import pyspark

    from rust_etl_spark.session import _default_driver_mem, default_parallelism

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": default_parallelism(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        "mem_gb": _mem_gb(),
        "cpu_model": _cpu_model(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
    }
