"""Cost of one small Hadoop local-FS file write, per checkpoint manager.

    python scripts/fs_op_cost.py [N]        (N defaults to 50)

Starts the engine's session (``get_spark``) and, in a fresh temp dir under
``catalog.scratch_dir``, times N one-line file writes each way:

- ``createAtomic`` through ``CheckpointFileManager.create(path,
  sessionState.newHadoopConf())``, i.e. the manager every streaming
  checkpoint write of the session goes through (offsets, commits, source
  logs, ``_spark_metadata``, state deltas and their checksum files);
- the same with ``spark.sql.streaming.checkpointFileManagerClass`` set to
  Spark's default, the FileContext manager, in a copy of that conf;
- a plain Hadoop ``FileSystem.create`` + ``close`` (what the FileSystem
  manager does before its rename), the floor of any Hadoop-side write.

For each it prints the manager class, ms per op and process creations
per op. The count is the delta of the ``processes`` line of
``/proc/stat`` over the timed loop: it is host-wide (other work on the
machine adds to it) and counts threads as well as processes, so read it
on an otherwise idle host. Without libhadoop's native IO, Hadoop's local
filesystem sets permissions by running ``chmod`` through a shell, and
that is where most of the count comes from. Each op also pays a few
py4j round trips (~1 ms together).

The temp dir is deleted at the end.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connor_fun_streamproducer_spark.catalog import scratch_dir  # noqa: E402
from connor_fun_streamproducer_spark.session import get_spark  # noqa: E402

_CFM_PKG = "org.apache.spark.sql.execution.streaming.checkpointing"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _processes() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("/proc/stat has no processes line")


def _timed(n: int, write_one) -> tuple[float, float]:
    """(ms per op, process creations per op) over n calls of write_one(i)."""
    write_one(-1)  # warm-up: class loading and the first shell start
    p0, t0 = _processes(), time.perf_counter()
    for i in range(n):
        write_one(i)
    dt, dp = time.perf_counter() - t0, _processes() - p0
    return 1000 * dt / n, dp / n


def main(n: int) -> None:
    spark = get_spark("fs_op_cost", cpus="1")
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    cfm = getattr(jvm, _CFM_PKG).CheckpointFileManager
    session_conf = spark._jsparkSession.sessionState().newHadoopConf()
    default_conf = jvm.org.apache.hadoop.conf.Configuration(session_conf)
    default_conf.set(_MANAGER_KEY, f"{_CFM_PKG}.FileContextBasedCheckpointFileManager")

    os.makedirs(scratch_dir("fs_op_cost"), exist_ok=True)
    root = tempfile.mkdtemp(dir=scratch_dir("fs_op_cost"))
    try:
        rows = []
        for label, conf in (("session", session_conf), ("spark default", default_conf)):
            d = os.path.join(root, label.replace(" ", "_"))
            mgr = cfm.create(Path(d), conf)
            mgr.mkdirs(Path(d))  # as HDFSMetadataLog does before its first write

            def atomic(i, mgr=mgr, d=d):
                out = mgr.createAtomic(Path(f"{d}/{i}"), False)
                out.writeBytes("v1\n")
                out.close()

            rows.append((f"createAtomic, {label}", mgr.getClass().getSimpleName(), _timed(n, atomic)))

        d = os.path.join(root, "fs_create")
        fs = Path(d).getFileSystem(session_conf)

        def create(i):
            out = fs.create(Path(f"{d}/{i}"), True)
            out.writeBytes("v1\n")
            out.close()

        rows.append(("FileSystem.create", fs.getClass().getSimpleName(), _timed(n, create)))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    print(f"{n} ops each; process creations are host-wide and include threads")
    print(f"{'write':<30} {'class':<40} {'ms/op':>8} {'procs/op':>9}")
    for label, cls, (ms, procs) in rows:
        print(f"{label:<30} {cls:<40} {ms:8.1f} {procs:9.1f}")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 50)
