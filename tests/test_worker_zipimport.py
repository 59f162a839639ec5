"""The lazy zipimport invalidation that the package installs in Spark
Python workers (``worker_zipimport.lazy_zip_directories``)."""

import subprocess
import sys
from pathlib import Path

import pyarrow as pa

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg

ROOT = Path(__file__).resolve().parent.parent

# run in a child interpreter, so the test process's zipimporter stays stock
_ZIP_SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport

path = sys.argv[1]

def write(*names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")

write("m1")
sys.path.insert(0, path)
import m1

stock = zipimport.zipimporter.invalidate_caches
import cardinality_estimation_evaluation_framework_spark as pkg
assert zipimport.zipimporter.invalidate_caches is stock  # not in a task

from pyspark import TaskContext
TaskContext._getOrCreate()  # as inside a Spark Python task
pkg.lazy_zip_directories()
if sys.version_info < (3, 13):
    assert zipimport.zipimporter.invalidate_caches is not stock

write("m1", "m2")
importlib.invalidate_caches()
import m2
assert (m1.NAME, m2.NAME) == ("m1", "m2")

os.remove(path)
importlib.invalidate_caches()
try:
    import m3
except ModuleNotFoundError:
    pass
else:
    raise AssertionError("m3 imported from a deleted archive")
print("ok")
"""


def test_lazy_zip_directories_rereads_a_changed_archive(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path / "mods.zip")],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_task_invalidate_caches_reads_no_zip_directory(spark):
    # PySpark calls importlib.invalidate_caches() before every task; in a
    # worker that unpickled a package function it reads no zip directory
    def probe(batches):
        import importlib
        import zipimport

        agg.flat  # the closure names a package function
        real, reads = zipimport._read_directory, []

        def counted(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    rows = spark.range(8, numPartitions=8).mapInArrow(probe, "reads long").collect()
    assert [r["reads"] for r in rows] == [0] * 8
