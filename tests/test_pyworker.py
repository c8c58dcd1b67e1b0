"""The PySpark worker tuning in pyworker.py: on in a worker once the package
is imported there, off everywhere else, and a zip importer still re-reads an
archive that changed."""

import os
import zipfile
import zipimport

from ethereum_raw_data_crawler_spark import pyworker


def test_tune_is_a_noop_outside_a_worker():
    before = zipimport.zipimporter.invalidate_caches
    pyworker.tune()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(zipimport.zipimporter, "_tuned", False)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path):
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "")
    imp = zipimport.zipimporter(str(path))
    rereads = []

    def reread(self):
        rereads.append(self)
        zipimport.zipimporter.invalidate_caches(self)

    pyworker._invalidate_if_changed(imp, reread)
    pyworker._invalidate_if_changed(imp, reread)
    assert len(rereads) == 1  # the second call saw the same mtime and size
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("b.py", "")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    pyworker._invalidate_if_changed(imp, reread)
    assert len(rereads) == 2
    assert imp.find_spec("b") is not None


def test_worker_is_tuned_once_the_package_is_imported(spark):
    def probe(batches):
        import gc
        import zipimport

        import pandas as pd

        import ethereum_raw_data_crawler_spark  # noqa: F401  runs tune()

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "tuned": [getattr(zipimport.zipimporter, "_tuned", False)],
                "frozen": [gc.get_freeze_count()],
            }
        )

    rows = spark.range(1).mapInPandas(probe, "tuned boolean, frozen long").collect()
    assert rows[0]["tuned"]
    assert rows[0]["frozen"] > 0
