"""get_spark runs Python tasks through ``pyspark_graft_worker``, which keeps
the zip directories the stock worker re-read on every task. Files shipped
with ``addPyFile`` after the workers are up must still import."""

import uuid
import zipfile

import pandas as pd
import pytest


def _worker_state(spark, partitions: int) -> set:
    # UDFs are built inside a function so cloudpickle ships them by value:
    # workers cannot import this test module
    def state(it):
        import importlib.util
        import sys
        import zipimport

        for _ in it:
            pass
        # a failed lookup leaves a finder with a cached listing on every
        # sys.path entry, so a later import must see past those caches
        assert importlib.util.find_spec("graft_no_such_module") is None
        yield pd.DataFrame(
            {
                "loaded": ["pyspark_graft_worker" in sys.modules],
                "patch": [zipimport.zipimporter.invalidate_caches.__qualname__],
            }
        )

    df = spark.range(0, partitions, 1, partitions)
    rows = df.mapInPandas(state, "loaded boolean, patch string").collect()
    assert len(rows) == partitions
    return {(r.loaded, r.patch) for r in rows}


def test_tasks_run_the_graft_worker(spark):
    assert _worker_state(spark, 4) == {(True, "_keep_zip_directory")}


@pytest.mark.parametrize("kind", ["py", "zip"])
def test_file_added_after_workers_start_imports(spark, tmp_path, kind):
    _worker_state(spark, 2)  # workers are up before the file is shipped
    # the session is shared and keeps every shipped file: never reuse a name
    name = f"graft_{kind}_{uuid.uuid4().hex[:12]}"
    source = f"VALUE = lambda i: f'{kind}{{i}}'\n"
    path = tmp_path / f"{name}.{kind}"
    if kind == "py":
        path.write_text(source)
    else:
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{name}/__init__.py", source)
    spark.sparkContext.addPyFile(str(path))

    def run(it):
        import importlib

        mod = importlib.import_module(name)
        for batch in it:
            yield pd.DataFrame({"v": batch["id"].map(mod.VALUE)})

    rows = spark.range(0, 4, 1, 2).mapInPandas(run, "v string").collect()
    assert [r.v for r in rows] == [f"{kind}{i}" for i in range(4)]
