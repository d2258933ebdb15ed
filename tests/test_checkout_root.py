"""Scratch output and artifacts stay inside the checkout that runs.

``catalog.REPO_ROOT`` is derived from the package's own location, so a copy
of the package writes under that copy, whatever the working directory.
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import subprocess
import sys

from connor_fun_streamproducer_spark.catalog import REPO_ROOT

PKG = "connor_fun_streamproducer_spark"

# A quoted absolute path to a scratch or artifact root, e.g. "/x/y/.scratch".
_ABS_ROOT = re.compile(
    r"[\"']/[^\"'\s]*/\.(scratch|ivf_index|neardup_index|kmeans_index|graph_index)\b"
)


def test_copied_package_writes_under_its_own_checkout(tmp_path):
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(os.path.join(REPO_ROOT, PKG), tmp_path / PKG, ignore=ignore)
    real = os.path.join(REPO_ROOT, ".scratch", "sf_probe")
    shutil.rmtree(real, ignore_errors=True)
    (tmp_path / "elsewhere").mkdir()
    code = (
        f"from {PKG}.sources import config_scan\n"
        "print(config_scan.write_locations_json('/nonexistent/sf_probe'))"
    )
    written = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path / "elsewhere",
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert pathlib.Path(written).parent == tmp_path / ".scratch" / "sf_probe" / "locations_json"
    assert os.path.isfile(written)
    assert not os.path.exists(real)


def test_no_source_hardcodes_an_absolute_checkout_path():
    offenders = [
        str(path.relative_to(REPO_ROOT))
        for top in (PKG, "scripts")
        for path in sorted(pathlib.Path(REPO_ROOT, top).rglob("*.py"))
        if REPO_ROOT in (text := path.read_text()) or _ABS_ROOT.search(text)
    ]
    assert offenders == []
