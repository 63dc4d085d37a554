import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class _CaptureKernel:
    """Stands in for the SparkSession and DataFrames a source or
    operator is handed, and returns the kernel function ``map_batches``
    passes to ``mapInArrow`` so a test can drive that kernel
    in-process."""

    def range(self, n):
        return self

    def repartition(self, n):
        return self

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        return fn


@pytest.fixture
def capture_kernel():
    return _CaptureKernel()


@pytest.fixture
def peak_rss_mb():
    """``peak_rss_mb(code)`` runs ``code`` in a fresh ``sys.executable``
    with the repository importable and returns that process's peak RSS
    (``ru_maxrss``) in MB. The code must not raise."""
    def measure(code: str) -> float:
        probe = (code + "\nimport resource\n"
                 "print(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)")
        out = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                             capture_output=True, text=True)
        assert out.returncode == 0, out.stderr
        return int(out.stdout.split()[-1]) / 1024   # Linux: KiB

    return measure


@pytest.fixture(scope="session")
def spark():
    from pdf_parser_spark.session import get_spark
    spark = get_spark("pdf_parser_spark_tests", cpus=8,
                      shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def cached_zip_finder(tmp_path):
    """A zip archive on ``sys.path`` with its import finder cached, as a
    pyspark worker holds one for ``pyspark.zip``. Yields a check that a
    kernel has since dropped every cached zip finder and that modules
    still import from the archive."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipfinder_probe_a.py", "A = 1\n")
        z.writestr("zipfinder_probe_b.py", "B = 2\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zipfinder_probe_a")
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)

        def check_dropped():
            assert not [p for p, f in sys.path_importer_cache.items()
                        if isinstance(f, zipimport.zipimporter)]
            mod_b = importlib.import_module("zipfinder_probe_b")
            assert mod_b.B == 2
            assert mod_b.__file__.startswith(archive)

        yield check_dropped
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zipfinder_probe_a", None)
        sys.modules.pop("zipfinder_probe_b", None)
