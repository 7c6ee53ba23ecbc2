"""The maintenance scripts in scripts/ stay importable and runnable:
each compiles, and the window rotation proposes a full
``DRIVER_WINDOW`` from the catalog."""

from __future__ import annotations

import glob
import importlib.util
import os
import py_compile

import pytest

from spark_bi5_datasource_spark import plans

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))), ids=os.path.basename
)
def test_script_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_window_rotation_proposes_full_window(capsys):
    spec = importlib.util.spec_from_file_location(
        "window_rotation", os.path.join(SCRIPTS, "window_rotation.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()
    names = [ln for ln in capsys.readouterr().out.splitlines() if ln and not ln.startswith("#")]
    assert len(names) == 50
    assert len(set(names)) == 50
    assert set(names) <= set(plans.oracle_sql())
