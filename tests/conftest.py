from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from vault_8_hive_spark.session import get_spark

    s = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _drop_derived_files_of_temp_inputs(tmp_path_factory):
    """Input dirs made under the session's temp dir (edge corpora, the
    regenerated seed, bucketing fixtures) are never read again, and
    catalog.work_dir keys derived files per absolute path, so their
    compacted copies and fixtures under .work go with the session."""
    yield
    import glob
    import shutil

    from vault_8_hive_spark.catalog import work_dir

    for src in tmp_path_factory.getbasetemp().glob("*/*"):
        for derived in glob.glob(work_dir(str(src), "*") + "*"):
            if os.path.isdir(derived):
                shutil.rmtree(derived, ignore_errors=True)
            else:
                os.remove(derived)
