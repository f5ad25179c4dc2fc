"""OpenBLAS core selection at package import (picovdb_spark/__init__.py):
the flags → core mapping, a preset OPENBLAS_CORETYPE winning, and the
Spark Python workers running the chosen kernels."""

import os
import subprocess
import sys

import pytest

from picovdb_spark import _openblas_core
from picovdb_spark.session import openblas_core_name

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_X86 = "processor\t: 0\nmodel name\t: Intel(R) Xeon(R) Processor\nflags\t\t: fpu sse2 {}\n\n"


def _cpuinfo(tmp_path, text):
    path = tmp_path / "cpuinfo"
    path.write_text(text)
    return str(path)


@pytest.mark.parametrize(
    "flags, core",
    [
        ("avx avx2 fma avx512f avx512dq", "SkylakeX"),
        ("avx512f", "SkylakeX"),
        ("avx avx2 fma", "Haswell"),
        ("avx avx2", None),
        ("sse3 ssse3", None),
    ],
)
def test_flags_map_to_core(tmp_path, flags, core):
    assert _openblas_core(_cpuinfo(tmp_path, _X86.format(flags))) == core


def test_arm_cpuinfo_has_no_flags(tmp_path):
    arm = "processor\t: 0\nBogoMIPS\t: 50.00\nFeatures\t: fp asimd evtstrm aes crc32\n"
    assert _openblas_core(_cpuinfo(tmp_path, arm)) is None


def test_unreadable_cpuinfo(tmp_path):
    assert _openblas_core(str(tmp_path / "missing")) is None
    assert _openblas_core(str(tmp_path)) is None  # a directory


def _import_and_report(env):
    code = (
        "import os, picovdb_spark;"
        "from picovdb_spark.session import openblas_core_name;"
        "print(os.environ.get('OPENBLAS_CORETYPE'), openblas_core_name())"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT, capture_output=True, text=True,
        timeout=120, check=True,
    )
    return out.stdout.split()


def test_preset_coretype_wins():
    env = {**os.environ, "OPENBLAS_CORETYPE": "Haswell"}
    var, core = _import_and_report(env)
    assert var == "Haswell"
    if core != "None" and _openblas_core() is not None:
        assert core.lower() == "haswell"


def test_import_sets_coretype_before_numpy_loads():
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    var, core = _import_and_report(env)
    expected = _openblas_core()
    assert var == str(expected)
    if expected is not None and core != "None":
        assert core.lower() == expected.lower()


def test_spark_workers_run_the_chosen_core(spark):
    expected = _openblas_core()
    if expected is None:
        pytest.skip("host CPU has no avx2+fma")
    if openblas_core_name() is None:
        pytest.skip("NumPy is not linked to OpenBLAS")
    if os.environ.get("OPENBLAS_CORETYPE") != expected:
        pytest.skip("OPENBLAS_CORETYPE preset to another core")

    def probe(batches):
        import pandas as pd

        from picovdb_spark.session import openblas_core_name

        for _ in batches:
            pass
        yield pd.DataFrame({"core": [openblas_core_name()]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "core string").collect()
    assert [r.core.lower() for r in rows] == [expected.lower()]
