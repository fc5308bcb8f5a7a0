"""The tools run against the tree they live in, so a copy of the repo
(say a parent checkout next to the change) checks and writes itself."""

import os
import shutil
import subprocess
import sys


def test_tools_import_and_write_their_own_tree(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for d in ("pulsar_io_delta_spark", "tools"):
        shutil.copytree(
            os.path.join(repo, d),
            tmp_path / d,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import tools.verify_local, tools.scale_smoke, tools.plan_report\n"
            "import pulsar_io_delta_spark as p\n"
            "print(p.__file__)\n"
            "print(tools.plan_report.ROOT)",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out[0].startswith(str(tmp_path) + os.sep), out
    assert out[1] == str(tmp_path), out
