"""Gate: no public package code that only tests reach.
``tools/unused_params.py`` lists the defaulted parameters (and dataclass
fields) of public package functions that no caller outside ``tests/`` sets,
and the module-level functions and classes, public methods and private
constants that no code outside ``tests/`` references; it exits non-zero
when one is not on its allowlists or an allowlist entry lists nothing."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_default_only_option_is_allowlisted():
    run = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "unused_params.py")],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 0, run.stdout + run.stderr
