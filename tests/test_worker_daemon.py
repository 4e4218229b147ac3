"""The engine's PySpark worker daemon (``session.ENGINE_CONFIG``'s
``spark.python.daemon.module``) and the workers' import path.

- The zip-invalidation rule is tested without Spark in a subprocess,
  so the patch never reaches the pytest process.
- Engine sessions run their Python workers under the daemon.
- A driver started from a foreign cwd without ``PYTHONPATH`` still
  runs plain and engine UDFs: ``get_spark`` puts the engine root on
  the workers' path. (``tokenize_arrow`` calls a module-level engine
  function, which the worker must import; ``matrix_dots_arrow``'s
  closure travels by value.)
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RULE = r"""
import importlib, os, sys, zipfile, zipimport

from gmall_realtime2021_spark import worker_daemon

archive = os.path.join(sys.argv[1], "mods.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zmod_a.py", "VALUE = 'a'\n")
sys.path.insert(0, archive)
import zmod_a

reads = []
stock_read = zipimport._read_directory
stock_invalidate = zipimport.zipimporter.invalidate_caches


def count_reads(hook):
    def read(path):
        if path == archive:
            reads.append(path)
        return hook(path)
    zipimport._read_directory = read


if sys.argv[2] == "as-3.12":
    sys.version_info = (3, 12, 0, "final", 0)
    worker_daemon.install()
    assert zipimport._read_directory is stock_read
    assert zipimport.zipimporter.invalidate_caches is stock_invalidate
    print("untouched")
    sys.exit(0)

# stock behaviour on this interpreter, for contrast
count_reads(stock_read)
importlib.invalidate_caches()
stock_reads = len(reads)
zipimport._read_directory = stock_read

worker_daemon.install()
if sys.version_info >= (3, 12):
    assert zipimport.zipimporter.invalidate_caches is stock_invalidate
    print("untouched")
    sys.exit(0)
count_reads(zipimport._read_directory)
importlib.invalidate_caches()  # first read under the rule stamps the archive
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads
assert zmod_a.VALUE == "a"

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zmod_a.py", "VALUE = 'a'\n")
    z.writestr("zmod_b.py", "VALUE = 'b'\n")
importlib.invalidate_caches()
assert reads == [archive], reads
import zmod_b

assert zmod_b.VALUE == "b"
print(f"patched stock_reads={stock_reads}")
"""


@pytest.mark.parametrize("mode", ["this-python", "as-3.12"])
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, mode):
    out = subprocess.run(
        [sys.executable, "-c", _RULE, str(tmp_path), mode],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    if mode == "as-3.12" or sys.version_info >= (3, 12):
        assert out.stdout.split() == ["untouched"]
    else:
        # the stock rule re-read the unchanged archive; the daemon's did not
        assert out.stdout.split() == ["patched", "stock_reads=1"]


def test_engine_sessions_run_workers_under_the_daemon(spark):
    def owner(it):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in it:
            yield pd.DataFrame({"owner": [code.co_filename]})

    owners = {r.owner for r in spark.range(4, numPartitions=2).mapInPandas(owner, "owner string").collect()}
    if sys.version_info >= (3, 12):
        assert owners == {"<frozen zipimport>"}
    else:
        assert owners == {os.path.join(ROOT, "gmall_realtime2021_spark", "worker_daemon.py")}


_FOREIGN_CWD = r"""
import sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F

from gmall_realtime2021_spark.functions.text_arrow import tokenize_arrow
from gmall_realtime2021_spark.functions.vectors_arrow import matrix_dots_arrow
from gmall_realtime2021_spark.session import get_spark

spark = get_spark("foreign-cwd", "local[2]")
df = spark.createDataFrame(
    [(1, [1.0, 2.0], "red fox"), (2, [3.0, 4.0], "blue jay")], "id int, v array<double>, t string"
)
plain = F.udf(lambda x: x + 1, "int")
rows = df.select(
    plain("id").alias("p"),
    matrix_dots_arrow(F.col("v"), [[1.0, 1.0]]).alias("d"),
    tokenize_arrow(F.col("t")).alias("w"),
).collect()
print(sorted((r.p, r.d, r.w) for r in rows))
spark.stop()
"""


def test_workers_import_the_engine_from_a_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD, ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "[(2, [3.0], ['red', 'fox']), (3, [7.0], ['blue', 'jay'])]"


def test_get_spark_launches_the_jvm_with_its_driver_memory(spark):
    """The builder's confs reach the JVM launch only if nothing in
    ``get_spark`` starts the JVM before ``getOrCreate``."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    units = {"m": 2**20, "g": 2**30}
    want = int(conf[:-1]) * units[conf[-1].lower()]
    assert spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() > 0.8 * want
