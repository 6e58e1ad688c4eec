import pytest

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def empty_table_sf(tmp_path, table: str) -> str:
    """A copy of SF_SMOKE whose ``table`` has no rows."""
    import os
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / f"sf_empty_{table}"
    sf.mkdir()
    for name in os.listdir(SF_SMOKE):
        shutil.copyfile(f"{SF_SMOKE}/{name}", sf / name)
    path = sf / f"{table}.parquet"
    empty = pq.read_table(path).slice(0, 0)
    path.unlink()
    pq.write_table(empty, path)
    return str(sf)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus="8")
    yield spark
    # release memoized frames at session end so test invocations don't
    # leave pinned storage behind (r8 advisor: release_all was wired
    # only into bench.py)
    cachereg.release_all()
