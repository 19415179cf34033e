"""The xqspark worker daemon: the import-cache gate around PySpark's
``setup_spark_files``, its installation in every build_session worker,
late ``addPyFile``s on reused workers, and the ``spark-submit
--py-files`` deployment path that has to start it."""

import importlib
import io
import os
import pathlib
import subprocess
import sys
import uuid
import zipfile

import pytest

from xqspark import _daemon
from xqspark.pipeline import build_session

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def spark():
    s = build_session(cpus=4, app="xq-daemon-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _files_infile(root: str, includes=()) -> io.BytesIO:
    """The worker protocol's Spark-files header, as the JVM writes it."""
    from pyspark.serializers import write_int, write_with_length

    buf = io.BytesIO()
    write_with_length(root.encode(), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode(), buf)
    buf.seek(0)
    return buf


def test_gate_flushes_only_when_the_import_key_changes(tmp_path, monkeypatch):
    """PySpark's own setup_spark_files, run through the wrapper: a second
    call with nothing changed skips the real invalidate_caches; a new
    sys.path entry or a new file in the files directory does not."""
    from pyspark.core.files import SparkFiles

    real = importlib.invalidate_caches
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.setattr(_daemon, "_last_key", None)
    calls = []
    monkeypatch.setattr(_daemon, "_invalidate_caches", lambda: calls.append(1))
    root = str(tmp_path)

    def setup(includes=()):
        _daemon.setup_spark_files(_files_infile(root, includes))
        return len(calls)

    assert setup() == 1  # first task in a worker: a new key
    assert setup() == 1  # same key: skipped
    assert setup() == 1
    (tmp_path / "dep.zip").write_bytes(b"")
    assert setup() == 2  # a new entry in the files directory
    assert setup(["dep.zip"]) == 3  # a new sys.path entry
    assert setup(["dep.zip"]) == 3
    # the gate covers only the wrapped call
    assert importlib.invalidate_caches is real


def test_workers_run_the_wrapper(spark):
    """Every build_session worker imports pyspark.worker with the wrapper
    bound: a PySpark upgrade that rebinds setup_spark_files elsewhere
    fails here instead of silently bringing the per-task flush back."""

    def probe(it):
        import pyspark.worker

        import xqspark._daemon

        yield pyspark.worker.setup_spark_files is xqspark._daemon.setup_spark_files

    sc = spark.sparkContext
    n = sc.defaultParallelism
    assert sc.parallelize(range(n), n).mapPartitions(probe).collect() == [True] * n


def test_add_py_file_after_first_task(spark, tmp_path):
    """A .py and a .zip added after the first Python task import in later
    tasks on the same, reused workers."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"late_mod_{tag}", f"zmod_{tag}"

    def pids(it):
        yield os.getpid()

    first = set(sc.parallelize(range(n), n).mapPartitions(pids).collect())

    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))

    def import_py(it):
        yield os.getpid(), importlib.import_module(py_mod).VALUE

    got = sc.parallelize(range(n), n).mapPartitions(import_py).collect()
    assert [v for _, v in got] == ["py"] * n

    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def import_both(it):
        yield (
            os.getpid(),
            importlib.import_module(py_mod).VALUE,
            importlib.import_module(zip_mod).VALUE,
        )

    got2 = sc.parallelize(range(n), n).mapPartitions(import_both).collect()
    assert [v[1:] for v in got2] == [("py", "zip")] * n
    # the later tasks ran on workers that had already run a task
    assert first & {p for p, _ in got} & {p for p, *_ in got2}


_SUBMIT_JOB = """
import sys

from xqspark.pipeline import build_session, run_with_resume, synthesize_pages

spark = build_session(cpus=2, app="xq-submit-test")
pages = synthesize_pages(spark, 200)
first = run_with_resume(pages, sys.argv[1], mode="xpath-single", query="//title", n_buckets=8)
second = run_with_resume(pages, sys.argv[1], mode="xpath-single", query="//title", n_buckets=8)
print("XQ_SUBMIT", first["processed"], second["processed"], second["skipped_parts"])


def user_dep(it):
    import xq_user_dep

    yield xq_user_dep.VALUE


print("XQ_USER_DEP", *sorted(set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(user_dep).collect())))
spark.stop()
"""


def test_spark_submit_py_files(tmp_path):
    """The deployment path: spark-submit --py-files xqspark.zip, run from
    a directory without xqspark/ and with no PYTHONPATH, so the workers
    (and the daemon they start from) find the package only in the zip.
    A worker PYTHONPATH the user set with --conf keeps its entries."""
    with zipfile.ZipFile(tmp_path / "xqspark.zip", "w") as z:
        for path in sorted((REPO / "xqspark").rglob("*.py")):
            z.write(path, path.relative_to(REPO).as_posix())
    (tmp_path / "job.py").write_text(_SUBMIT_JOB)
    (tmp_path / "deps").mkdir()
    (tmp_path / "deps" / "xq_user_dep.py").write_text("VALUE = 'user-dep'\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    proc = subprocess.run(
        [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--master", "local[2]",
            "--driver-memory", "512m",
            "--py-files", "xqspark.zip",
            "--conf", f"spark.executorEnv.PYTHONPATH={tmp_path / 'deps'}",
            "job.py", str(tmp_path / "out"),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("XQ_")]
    assert lines == ["XQ_SUBMIT 200 0 8", "XQ_USER_DEP user-dep"], (
        proc.returncode,
        proc.stderr[-3000:],
    )
