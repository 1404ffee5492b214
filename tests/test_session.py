"""Per-process tunings and the worker-setup seam (package ``__init__``).

Every engine kernel goes through ``worker_kernel``, so a Python worker
imports the package, and with it both process tunings, even for kernels
that are pickled by value. The zipimport tuning re-reads an archive on
``importlib.invalidate_caches()`` only when the archive changed.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from collections.abc import Iterator

import pandas as pd
import pytest

import deduplicate_text_datasets_spark as pkg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TUNINGS = ["allocator", "zipimport"] if sys.version_info < (3, 12) else ["allocator"]

# Runs in a fresh local[1] session, so one reused Python worker serves
# every job: a probe kernel that never names the package reports what the
# worker has imported before and after a closure-only engine kernel ran.
_WORKER_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from deduplicate_text_datasets_spark.config import MinHashConfig
from deduplicate_text_datasets_spark.operators.minhash import minhash_signatures
from deduplicate_text_datasets_spark.session import get_spark

spark = get_spark("worker-tunings", master="local[1]", shuffle_partitions=1)

def probe(batches):
    import os, sys
    import pandas as pd
    for _ in batches:
        pass
    m = sys.modules.get("deduplicate_text_datasets_spark")
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "tunings": [",".join(sorted(m._TUNINGS)) if m else "-"],
    })

def report():
    r = spark.range(1).mapInPandas(probe, "pid long, tunings string").collect()[0]
    return [r["pid"], r["tunings"]]

before = report()
sh = spark.createDataFrame(
    [(1, [11, 12, 13]), (2, [12, 13, 14])], "doc_id long, sh array<long>"
)
sigs = minhash_signatures(sh, MinHashConfig()).collect()
after = report()
print("REPORT " + json.dumps({"before": before, "after": after, "sigs": len(sigs)}))
spark.stop()
"""


def test_closure_kernel_installs_tunings_in_its_worker(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, REPO],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,  # workers import the package from the working directory
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("REPORT ")]
    assert lines, out.stderr[-3000:]
    rep = json.loads(lines[-1][len("REPORT ") :])
    assert rep["sigs"] == 2
    (pid0, before), (pid1, after) = rep["before"], rep["after"]
    assert pid0 == pid1, "local[1] must reuse one Python worker"
    assert before == "-", "the probe alone must not import the package"
    assert after == ",".join(TUNINGS)


def test_worker_kernel_runs_where_package_is_missing(tmp_path):
    """A worker that cannot import the package still runs the kernel,
    untuned, as an unwrapped closure kernel would."""
    from pyspark import cloudpickle

    from deduplicate_text_datasets_spark import worker_kernel

    def kernel(x):
        return x + 1

    blob = cloudpickle.dumps(worker_kernel(kernel))
    code = (
        "import pickle, sys; f = pickle.loads(sys.stdin.buffer.read()); "
        "print(f(41), 'deduplicate_text_datasets_spark' in sys.modules)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=blob,
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert out.stdout.decode().split() == ["42", "False"], out.stderr.decode()[-2000:]


def test_worker_kernel_keeps_arity_and_type_hints(spark):
    from deduplicate_text_datasets_spark import worker_kernel

    def grouped(key, pdf):
        return pdf.assign(g=key[0])

    def grouped_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.groupby("k", as_index=False)["v"].sum()

    df = spark.createDataFrame([(i % 3, i) for i in range(12)], "k long, v long")
    a = df.groupBy("k").applyInPandas(worker_kernel(grouped), "k long, v long, g long")
    assert sorted((r.k, r.g) for r in a.collect()) == sorted((i % 3, i % 3) for i in range(12))
    b = df.groupBy("k").applyInPandas(worker_kernel(grouped_iter), "k long, v long")
    assert sorted((r.k, r.v) for r in b.collect()) == [(0, 18), (1, 22), (2, 26)]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch, request):
    """An importable zip holding module ``zmod_one``; ``zmod_two`` is
    added by rewriting it."""
    path = str(tmp_path / f"{request.node.name}.zip")
    _write_zip(path, {"zmod_one": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "zmod_one", raising=False)
    monkeypatch.delitem(sys.modules, "zmod_two", raising=False)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _rewrite(path) -> None:
    _write_zip(path, {"zmod_one": "X = 1\n", "zmod_two": "Y = 2\n"})


def test_zip_reread_only_when_changed(archive, monkeypatch):
    assert importlib.import_module("zmod_one").X == 1
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first call records the archive's stamp
    if sys.version_info < (3, 12):  # 3.12+ defers every re-read itself
        assert "zipimport" in pkg._TUNINGS
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads, "an unchanged archive must not be re-read"

    _rewrite(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_two").Y == 2
    assert archive in reads
