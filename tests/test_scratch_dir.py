"""Scratch directories made by the package leave nothing behind."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dir_is_removed_at_interpreter_exit(tmp_path):
    code = (
        "from spark_extensions_spark.session import scratch_dir\n"
        "d = scratch_dir('leak_check_')\n"
        "open(d + '/f', 'w').write('x')\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    made = subprocess.run(
        [sys.executable, "-c", code],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert made.startswith(str(tmp_path))  # it was made where expected
    assert os.listdir(tmp_path) == []
