"""The session's defaults, each checked in a fresh JVM.

The shared `spark` fixture's JVM already holds the codegen classes of
whichever tests ran before, and a JVM sees only the `PATH` it was
launched with. Each check therefore runs in a child process with a
fresh `get_spark()` session:

    python tests/test_session.py codegen <sf_dir>

prints one JSON line with the compile counts of two runs of the
`perfbench` signal mix and the session's cache size;

    python tests/test_session.py checkpoint <sf_dir> <work_dir>

writes 4 one-file event batches under `<work_dir>/src`, runs one
`maintain_rollup_stream` over them with its checkpoint at
`<work_dir>/ckpt`, and prints one JSON line with the committed batch
count.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compile_counts(sf_dir: str) -> dict:
    """Run the signal mix twice as noop-sink writes on a fresh session;
    count the classes each run compiles."""
    from perfbench.workloads import SIGNAL_QUERIES
    from timeseriesdb_spark.registry import QUERIES
    from timeseriesdb_spark.session import get_spark

    spark = get_spark(app_name="codegen-cache", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    try:
        for _ in range(2):
            c0 = metrics.METRIC_COMPILATION_TIME().getCount()
            for q in SIGNAL_QUERIES:
                QUERIES[q](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
        max_entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    finally:
        spark.stop()
    return {"first": counts[0], "second": counts[1], "max_entries": max_entries}


def checkpoint_stream(sf_dir: str, work: str) -> dict:
    """One 4-batch maintain_rollup_stream on a fresh session."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.api import SignalEngine
    from timeseriesdb_spark.session import get_spark
    from timeseriesdb_spark.tables import load_table

    spark = get_spark(app_name="checkpoint-forks", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "ts", "value"
        )
        src = os.path.join(work, "src")
        quarter = F.pmod(F.xxhash64("event_id"), F.lit(4))
        for i in range(4):
            ev.filter(quarter == i).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        SignalEngine(spark, os.path.join(work, "store")).maintain_rollup_stream(
            stream, os.path.join(work, "rollup"), os.path.join(work, "ckpt")
        ).awaitTermination(300)
    finally:
        spark.stop()
    commits = os.listdir(os.path.join(work, "ckpt", "commits"))
    return {"batches": sum(name.isdigit() for name in commits)}


def _child(*args: str, env: dict | None = None) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        cwd=ROOT, env=env or dict(os.environ), capture_output=True,
        text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_repeated_signal_mix_compiles_nothing():
    from tests.conftest import SF_DIR

    env = {**os.environ, "SPARK_TSDB_TEST_SF": SF_DIR}
    got = _child("codegen", SF_DIR, env=env)
    # A cold run of the 28 queries compiles about 216 classes; a cache
    # that holds them leaves only a few for the second run, whereas
    # Spark's default of 100 entries recompiles about 90% of them.
    assert got["first"] > 100, got
    assert got["second"] <= 0.05 * got["first"], got
    assert got["max_entries"] >= got["first"], got


def test_stream_checkpoint_forks_no_readlink(tmp_path):
    """Without Hadoop's native library the JVM forks `readlink` to stat
    a path through `FileContext` and `chmod` to set a permission. Log
    each such fork through wrappers put first on the child's PATH."""
    from tests.conftest import SF_DIR

    log = tmp_path / "forks.log"
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for tool in ("readlink", "chmod"):
        real = shutil.which(tool)
        wrapper = bin_dir / tool
        wrapper.write_text(
            f"#!/bin/sh\nprintf '%s\\n' \"{tool} $*\" >> '{log}'\n"
            f"exec '{real}' \"$@\"\n"
        )
        wrapper.chmod(wrapper.stat().st_mode | stat.S_IXUSR)
    work = tmp_path / "work"
    env = {**os.environ, "SPARK_TSDB_TEST_SF": SF_DIR,
           "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}"}
    got = _child("checkpoint", SF_DIR, str(work), env=env)
    assert got["batches"] == 4, got

    ckpt = os.path.realpath(work / "ckpt")
    forks = [line.split()[0] for line in log.read_text().splitlines()
             if ckpt in line]
    assert forks, "no checkpoint fork was logged: the wrappers saw nothing"
    assert "readlink" not in forks, forks.count("readlink")
    # The checkpoint still forks a `chmod` for each file, `.crc` and dir
    # it creates: 30 over the 4 batches here (7.5 per batch), where
    # Spark's default FileContext manager also forked 26 `readlink` per
    # batch.
    assert len(forks) / got["batches"] <= 7.5, len(forks)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    mode, *rest = sys.argv[1:]
    run = {"codegen": compile_counts, "checkpoint": checkpoint_stream}[mode]
    print(json.dumps(run(*rest)))
