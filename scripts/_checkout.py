"""Find the checkout a script lives in; every script imports this first.

Puts the repository root on this process's ``sys.path`` and on
``PYTHONPATH``, which Spark's Python workers inherit: the package is not
installed, so without the export a script run from another directory fails
every ``mapInPandas`` stage with ``ModuleNotFoundError``.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
